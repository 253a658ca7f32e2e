package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PortableRound.round
import graft.functions.TextFunctions._

/** Text-analysis operators over the documents table (SURVEY.md §2 q30–q35).
  * Everything is per-row map-side work + a small aggregation — the shape
  * that scales linearly to 100 TB with no shuffle beyond the final
  * low-cardinality groupBy. */
object TextAnalysis {

  /** q30: token/char statistics per language. */
  def textStats(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents
      .select(col("lang"), length(col("text")).as("chars"), size(toks).as("n_tok"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("chars"), 4).as("avg_chars"),
        round(avg("n_tok"), 4).as("avg_tokens"),
        round(sum(col("n_tok").cast("double")), 4).as("total_tokens"))
      .orderBy("lang")
  }

  /** q31: heuristic quality score per document — stopword ratio damped by
    * a length factor. Pure map-side; the kind of scorer a pretraining
    * pipeline runs inline with the scan. */
  def qualityScore(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tok"),
        stopCount(toks).cast("long").as("n_stop"))
      .filter(col("n_tok") > 0)
      .withColumn("stop_ratio", round(col("n_stop").cast("double") / col("n_tok"), 4))
      .withColumn(
        "quality",
        round(
          (lit(1.0) - col("n_stop").cast("double") / col("n_tok")) *
            least(lit(1.0), col("n_tok").cast("double") / 50.0),
          4))
      .orderBy("doc_id")
  }

  /** q131: dedup with KEEP-BEST election — one representative per
    * exact-duplicate group chosen by QUALITY (max q31 score, doc_id as
    * the deterministic tie-break), not by minimal id: when a crawl
    * carries the same text with different truncation/boilerplate, you
    * keep the best-scoring copy. Same one-shuffle shape as q33
    * (fingerprint groupBy) with `max_by` over a struct — no per-group
    * sort, no self-join-on-max. */
  def dedupKeepBest(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents
      .select(
        col("doc_id"), col("source"), fingerprint(col("text")).as("fp"),
        size(toks).cast("long").as("n_tok"),
        stopCount(toks).cast("long").as("n_stop"))
      .filter(col("n_tok") > 0)
      .withColumn(
        "quality",
        round(
          (lit(1.0) - col("n_stop").cast("double") / col("n_tok")) *
            least(lit(1.0), col("n_tok").cast("double") / 50.0),
          4))
      .groupBy("fp")
      .agg(
        count(lit(1)).as("group_size"),
        max(struct(col("quality"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(
        col("fp"),
        col("group_size"),
        (-col("best.neg_id")).cast("long").as("keep_doc"),
        col("best.quality").as("keep_quality"))
      .orderBy("fp")
  }

  /** q32: fingerprint dup-groups — md5 of whitespace-normalized text. */
  def fingerprintGroups(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .orderBy("fp")

  /** q33: exact dedup — keep the smallest doc_id per fingerprint. The
    * min-over-window form shuffles once on fp; at scale this is the
    * hash-groupBy exact-dedup pass run before any fuzzy pass. */
  def dedupExact(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy("fp")
    documents
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .withColumn("keep", min("doc_id").over(w))
      .filter(col("doc_id") === col("keep"))
      .select("doc_id", "fp")
      .orderBy("doc_id")
  }

  /** q48: end-to-end corpus curation — the composed training-data
    * pipeline in one query: exact dedup (keep min doc_id per
    * fingerprint) → language filter → quality floor → per-source corpus
    * stats. Every stage is one of the already-verified operators
    * (q33 + q31), so the whole pipeline stays oracle-checkable; the
    * fuzzy near-dup pass (q47) composes the same way where exactness
    * isn't required. Shuffles: one on fp (dedup), one on doc_id (join),
    * one tiny groupBy — each data-proportional. */
  def curateCorpus(
      documents: DataFrame,
      minQuality: Double = 0.3,
      lang: String = "en"): DataFrame = {
    val deduped = dedupExact(documents).select("doc_id")
    val quality = qualityScore(documents).select("doc_id", "n_tok", "quality")
    documents
      .select(col("doc_id"), col("source"), col("lang"))
      .join(deduped, "doc_id")
      .filter(col("lang") === lang)
      .join(quality, "doc_id")
      .filter(col("quality") >= minQuality)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("n_tok").cast("double")), 4).as("total_tokens"),
        round(avg("quality"), 4).as("avg_quality"))
      .orderBy("source")
  }

  /** q148: calibrated per-stratum curation — quality thresholds computed
    * WITHIN each (lang, source) stratum, not one global cutoff (q48):
    * sources score on different scales, so "top quartile of THIS
    * source" is the real-world selection rule. The cutoff table is one
    * exact-`percentile` aggregate of stratum cardinality (a handful of
    * rows — broadcast back), so no per-stratum window over the corpus
    * is ever planned; the 100 TB swap is the q145 t-digest aggregate
    * in the same position. Map-side score → tiny cutoff agg →
    * broadcast-join filter → stratum-sized summary. */
  def calibratedCuration(documents: DataFrame, keepFrac: Double = 0.25): DataFrame = {
    val toks = tokens(col("text"))
    val scored = documents
      .select(
        col("doc_id"), col("lang"), col("source"),
        size(toks).cast("long").as("n_tok"),
        stopCount(toks).cast("long").as("n_stop"))
      .filter(col("n_tok") > 0)
      .withColumn(
        "quality",
        round(
          (lit(1.0) - col("n_stop").cast("double") / col("n_tok")) *
            least(lit(1.0), col("n_tok").cast("double") / 50.0),
          4))
    val cuts = scored
      .groupBy("lang", "source")
      .agg(
        expr(s"percentile(quality, ${1.0 - keepFrac})").as("cutoff"),
        count(lit(1)).as("n_total"))
    scored
      .join(broadcast(cuts), Seq("lang", "source"))
      .filter(col("quality") >= col("cutoff"))
      .groupBy("lang", "source")
      .agg(
        round(first("cutoff"), 4).as("cutoff"),
        first("n_total").as("n_total"),
        count(lit(1)).as("n_kept"),
        round(sum(col("n_tok").cast("double")), 4).as("kept_tokens"),
        round(avg("quality"), 4).as("avg_quality_kept"))
      .orderBy("lang", "source")
  }

  /** q149: token-budget corpus selection — keep documents per source in
    * deterministic hash priority (md5 of doc_id) until a token budget
    * is filled: the "give me B tokens of src X, stable across reruns"
    * mixture-sampling primitive. The naive form is a per-source ORDER
    * BY + running sum (one giant partition per source — dies at
    * 100 TB); here the md5 hex PREFIX (2 chars → 256 buckets) is the
    * coarse priority, so a 256×#sources bucket-total aggregate comes
    * to the driver, a prefix scan over it classifies each bucket as
    * keep-all / boundary / drop with its remaining budget, and the
    * only running sum ever planned is WITHIN a (source, bucket)
    * partition — corpus/256-sized, uniform, shuffle-light. Prefix
    * order aligns with full-string order, so the result is exactly
    * the naive cumulative-sum answer. */
  def tokenBudgetSelect(documents: DataFrame, budgetPerSource: Long = 600L): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val scored = documents
      .select(
        col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        md5(col("doc_id").cast("string")).as("priority"))
      .filter(col("n_tok") > 0) // a token budget never selects empty docs
      .withColumn("bucket", substring(col("priority"), 1, 2))
    val bucketTotals = scored
      .groupBy("source", "bucket")
      .agg(sum("n_tok").as("btok"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // driver prefix scan over ≤256 buckets per source: cumulative token
    // count is monotone, so exactly one bucket straddles the budget
    val decisions = bucketTotals
      .groupBy(_._1)
      .toSeq
      .flatMap { case (source, rows) =>
        var before = 0L
        rows.sortBy(_._2).flatMap { case (_, bucket, btok) =>
          val d =
            if (before + btok <= budgetPerSource) Some((source, bucket, Long.MaxValue))
            else if (before < budgetPerSource) Some((source, bucket, budgetPerSource - before))
            else None
          before += btok
          d
        }
      }
    val w = Window.partitionBy("source", "bucket")
      .orderBy("priority", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .join(broadcast(decisions.toDF("source", "bucket", "rem")), Seq("source", "bucket"))
      .withColumn("cum", sum("n_tok").over(w))
      .filter(col("cum") <= col("rem"))
      .select("source", "doc_id", "n_tok", "priority")
      .orderBy("source", "priority")
  }

  /** q34: BPE-ish regex token counts per source. */
  def tokenRegexStats(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), size(bpeTokens(col("text"))).as("n_bpe"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("n_bpe"), 4).as("avg_bpe_tokens"),
        round(sum(col("n_bpe").cast("double")), 4).as("total_bpe_tokens"))
      .orderBy("source")

  /** q36: corpus-wide n-gram (token) frequencies via explode — generate
    * → partial-count map-side → tiny shuffle on token → global top-k. */
  def ngramFrequencies(documents: DataFrame, topK: Int = 20): DataFrame =
    documents
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("tok"))
      .limit(topK)

  /** q35: marker-word language ID (rows-only check; semantic spec in
    * ScalaTest against fixture sentences). */
  def langId(documents: DataFrame): DataFrame = {
    val toks = tokens(lower(col("text")))
    documents
      .select(
        col("doc_id"),
        col("lang").as("labeled_lang"),
        predictedLang(toks).as("pred_lang"),
        round(array_max(langScores(toks)).getField("score"), 4).as("best_score"))
      .orderBy("doc_id")
  }

  /** q55: deterministic hash sampling — the training-mixture primitive.
    * Membership is a pure function of the stable doc_id (first md5 hex
    * nibble ∈ `hexChars` → a hexChars.size/16 systematic sample), so the
    * sample is reproducible across runs, engines and cluster layouts,
    * composable (a 2/16 sample is a strict subset of 3/16), and fully
    * map-side — the filter rides the scan, no shuffle before the final
    * tiny groupBy. Unlike `rand()`-based sampling, re-running over
    * re-partitioned 100 TB inputs selects the identical document set. */
  /** The raw hash-sampled rows: md5-first-nibble systematic sample,
    * reproducible across runs/engines/layouts and composable (subset
    * nibbles ⇒ subset rows). q55 aggregates this. */
  def hashSample(documents: DataFrame, hexChars: Seq[String]): DataFrame =
    documents.filter(substring(md5(col("doc_id").cast("string")), 1, 1).isin(hexChars: _*))

  def deterministicSample(
      documents: DataFrame,
      hexChars: Seq[String] = Seq("0", "1", "2")): DataFrame =
    hashSample(documents, hexChars)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("n_chars"), 4).as("avg_chars"),
        min("doc_id").as("min_doc"))
      .orderBy("lang")

  /** q56: corpus-adaptive line dedup — the C4/CCNet boilerplate rule
    * ("drop lines that recur across many documents": nav bars, cookie
    * banners, license footers). Three data-proportional stages:
    * (1) posexplode text into (doc, pos, line); (2) one hash-shuffled
    * groupBy counting per-line document frequency — lines in ≥
    * `minDocFrac` of docs are boilerplate (by construction a SMALL set:
    * each survivor recurs in that fraction of the corpus, so it's
    * broadcast); (3) anti-match + ordered reassembly per doc. No
    * cartesian anywhere; the reassembly shuffle is keyed on doc_id.
    * `delimiter` picks the unit: "\n" for real lines, " " for
    * corpus-stopword removal at token level (the oracle-checked mode,
    * since the synthetic corpus has no newlines). */
  def lineDedup(
      documents: DataFrame,
      delimiter: String = "\n",
      minDocFrac: Double = 0.5): DataFrame = {
    val lines = documents.select(
      col("doc_id"),
      posexplode(split(col("text"), java.util.regex.Pattern.quote(delimiter))).as(Seq("pos", "line")))
    val nd = documents.agg(count(lit(1)).cast("double").as("nd"))
    val boiler = lines
      .groupBy("line")
      .agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(nd))
      .filter(col("df") >= col("nd") * minDocFrac)
      .select(col("line"), lit(true).as("is_boiler"))
    lines
      .join(broadcast(boiler), Seq("line"), "left")
      .withColumn("keep", col("is_boiler").isNull)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("keep"), lit(1))).as("n_kept"),
        concat_ws(
          delimiter,
          transform(
            array_sort(collect_list(when(col("keep"), struct(col("pos"), col("line"))))),
            _.getField("line"))).as("kept_text"))
      .orderBy("doc_id")
  }

  /** q57: repetition scoring — the Gopher "fraction of duplicate words"
    * quality rule. Pure map-side array math (no explode, no shuffle
    * before the final orderBy): dup_frac = 1 − distinct/total; docs over
    * `maxDupFrac` are flagged for removal. */
  def repetitionScore(documents: DataFrame, maxDupFrac: Double = 0.55): DataFrame = {
    val toks = split(col("text"), " ")
    documents
      .select(
        col("doc_id"),
        col("lang"),
        size(toks).cast("long").as("n_tok"),
        size(array_distinct(toks)).cast("long").as("n_uniq"))
      .withColumn("dup_frac", round(lit(1.0) - col("n_uniq").cast("double") / col("n_tok"), 4))
      .withColumn("kept", col("dup_frac") <= maxDupFrac)
      .orderBy("doc_id")
  }

  /** q58: sequence packing — assemble documents into fixed token-budget
    * training sequences (the pre-tokenization packing step of an LLM
    * data pipeline). Docs are laid out in stable doc_id order per
    * source; a running token sum assigns each doc to the bin its START
    * offset falls in (offset binning: one window pass, deterministic,
    * no sequential packer on the driver). Per-source windows keep the
    * sort distributed — at 100 TB each source packs independently in
    * its own partition. A doc straddling a boundary spills into the
    * next bin, so fill can exceed 1 slightly; the trade is exactness of
    * fill vs a fully parallel plan. */
  def sequencePacking(documents: DataFrame, tokenBudget: Int = 512): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      .withColumn("bin", floor((col("cum") - col("n_tok")) / tokenBudget))
      .groupBy("source", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("bin_tokens"),
        round(sum("n_tok").cast("double") / tokenBudget, 4).as("fill"))
      .orderBy("source", "bin")
  }

  /** q64: corpus → training sequences, end to end — the full document
    * prep pipeline composed from verified stages in ONE oracle-checked
    * query: exact dedup (q33) drops re-crawled copies, repetition
    * filtering (q57) drops degenerate docs, and the survivors pack into
    * fixed token-budget bins (q58). Stage costs at scale: one fp
    * shuffle (dedup), map-side repetition math, one per-source window
    * (packing) — three shuffles total for the whole corpus-to-sequences
    * path. */
  def trainingPipeline(
      documents: DataFrame,
      tokenBudget: Int = 512,
      maxDupFrac: Double = 0.55): DataFrame = {
    val kept = dedupExact(documents).select("doc_id")
    val lowRep = repetitionScore(documents)
      .filter(col("dup_frac") <= maxDupFrac)
      .select("doc_id")
    val survivors = documents.join(kept, "doc_id").join(lowRep, "doc_id")
    sequencePacking(survivors, tokenBudget)
  }

  /** q66: benchmark decontamination — flag training documents sharing
    * any `ngramN`-token shingle with an evaluation/benchmark set (the
    * standard n-gram-overlap contamination test). The benchmark side is
    * small by definition, so its hashed shingle set broadcasts; the
    * corpus side is one map-side explode of hashed shingles + a
    * broadcast semi-match — no shuffle of the 100 TB side at all until
    * the tiny per-doc hit count. Hashes (xxhash64) stand in for the
    * shingle strings end to end, so the broadcast is 8 bytes per
    * benchmark shingle. */
  def decontaminate(
      documents: DataFrame,
      benchmark: DataFrame,
      ngramN: Int = 8): DataFrame = {
    def grams(c: org.apache.spark.sql.Column) =
      transform(shingles(tokens(lower(c)), ngramN), s => xxhash64(s))
    val benchGrams = benchmark
      .select(explode(grams(col("text"))).as("g"))
      .distinct()
    val hits = documents
      .select(col("doc_id"), explode(grams(col("text"))).as("g"))
      .join(broadcast(benchGrams), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
    documents
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_hits").isNotNull.as("contaminated"))
      .orderBy("doc_id")
  }

  /** q71: perplexity-proxy quality filter (the CCNet recipe, with an
    * in-corpus LM standing in for the external wiki-LM): train a
    * character-bigram language model over the corpus, score each doc by
    * average bits per bigram (−log₂ P(c₂|c₁), add-α smoothed), flag
    * outliers. The model is BOUNDED by the alphabet (≤ |Σ|² entries)
    * regardless of corpus size, so training is one map-side-combined
    * count over ~1k keys and the model ships to scorers inside a UDF
    * closure — the 100 TB shape: two linear passes, no shuffle beyond
    * a ~1k-row aggregate. */
  def lmScore(
      documents: DataFrame,
      smoothing: Double = 0.5,
      maxBits: Double = 6.0): DataFrame = {
    val bigramsUdf = udf { (s: String) =>
      val t = s.toLowerCase
      (0 until t.length - 1).map(i => t.substring(i, i + 2))
    }
    val counts = documents
      .select(explode(bigramsUdf(col("text"))).as("bg"))
      .groupBy("bg").count()
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val firstTotals = counts.groupMapReduce(_._1.substring(0, 1))(_._2)(_ + _)
    val vocab = counts.keysIterator.map(_.substring(1, 2)).toSet.size.toDouble
    val scoreUdf = udf { (s: String) =>
      val t = s.toLowerCase
      if (t.length < 2) Double.NaN
      else {
        var bits = 0.0
        var i = 0
        while (i < t.length - 1) {
          val bg = t.substring(i, i + 2)
          val p = (counts.getOrElse(bg, 0L) + smoothing) /
            (firstTotals.getOrElse(bg.substring(0, 1), 0L) + smoothing * vocab)
          bits -= math.log(p) / math.log(2.0)
          i += 1
        }
        bits / (t.length - 1)
      }
    }
    documents
      .select(col("doc_id"), col("lang"), round(scoreUdf(col("text")), 4).as("bits_per_bigram"))
      .withColumn("kept", col("bits_per_bigram") <= maxBits)
      .orderBy("doc_id")
  }

  /** q72: training-mixture solver — turn target token SHARES into
    * per-source sampling RATES. Downsampling only (rates ≤ 1, no
    * repetition epochs): the feasible total budget is
    * T = min_s(tokens_s / share_s), at which the scarcest source is
    * taken whole (rate 1) and every other source downsamples to hit
    * its share exactly. One tiny per-source aggregate; the solve is
    * arithmetic on O(#sources) rows. Feed the rates into
    * [[stratifiedSample]] to materialize the mixture. */
  def mixtureRates(documents: DataFrame, targetShares: Map[String, Double]): DataFrame = {
    val total = targetShares.values.sum
    val shares = targetShares.map { case (s, v) => (s, v / total) }
    val shareCol = shares.foldLeft(lit(null).cast("double")) { case (acc, (s, v)) =>
      when(col("source") === s, lit(v)).otherwise(acc)
    }
    val perSource = documents
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .withColumn("share", shareCol)
      .filter(col("share").isNotNull)
    val w = Window.partitionBy()
    perSource
      .withColumn("budget", min(col("n_tokens").cast("double") / col("share")).over(w))
      .select(
        col("source"),
        col("n_tokens"),
        round(col("share"), 4).as("share"),
        round(col("share") * col("budget") / col("n_tokens"), 4).as("rate"),
        round(col("share") * col("budget"), 4).as("sampled_tokens"))
      .orderBy("source")
  }

  /** The solved mixture, materialized: per-source Bernoulli sampling at
    * the q72 rates. Realized token shares converge to the targets by
    * LLN; the scarcest source passes through whole. */
  def mixtureSample(
      documents: DataFrame,
      targetShares: Map[String, Double],
      seed: Long = 42L): DataFrame = {
    val rates = mixtureRates(documents, targetShares)
      .select("source", "rate").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    stratifiedSample(documents, "source", rates, seed)
  }

  /** Stratified sampling by column value (per-stratum fractions) —
    * `DataFrameStatFunctions.sampleBy` under the hood: one map-side
    * Bernoulli draw per row seeded deterministically, no shuffle. Used
    * to rebalance source/language mixtures when assembling training
    * corpora. */
  def stratifiedSample(
      documents: DataFrame,
      strataCol: String,
      fractions: Map[String, Double],
      seed: Long = 42L): DataFrame =
    documents.stat.sampleBy(strataCol, fractions, seed)

  /** q74: TF-IDF top terms per document. Two data-proportional shuffles:
    * (doc, term) counts and per-term document frequency; the DF table is
    * vocabulary-sized, joined back on `term` (broadcast-able whenever the
    * vocabulary fits, which a word-level vocab does even at 100 TB). The
    * corpus size N is a 1-row broadcast. Scores are rounded BEFORE
    * ranking so the `(tfidf desc, term)` tie-break is engine-stable. */
  def tfidf(documents: DataFrame, topK: Int = 3, maxDocId: Long = 100L): DataFrame = {
    val tok = documents.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tok.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val n = documents.agg(count(lit(1)).as("n"))
    val scored = tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n").cast("double") / col("df")), 4))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK && col("doc_id") < maxDocId)
      .select("doc_id", "term", "tfidf", "rnk")
      .orderBy("doc_id", "rnk")
  }

  /** q75: fixed-window document chunking with overlap (training-sequence
    * prep): token windows of `window` tokens every `stride`. Pure
    * map-side — `sequence()` generates chunk starts, `slice` cuts each
    * window, no shuffle at all; 100 TB chunks at scan speed. Chunk text
    * is fingerprinted (md5) so the oracle compares content without
    * hauling it. */
  def chunkDocuments(documents: DataFrame, window: Int = 64, stride: Int = 48): DataFrame =
    documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .filter(col("n_tok") > 0)
      .withColumn("start", explode(sequence(lit(0L), col("n_tok") - 1, lit(stride.toLong))))
      .withColumn("chunk_id", (col("start") / stride).cast("long"))
      .withColumn("chunk_len", least(lit(window.toLong), col("n_tok") - col("start")))
      .withColumn(
        "chunk_md5",
        md5(concat_ws(" ", slice(col("toks"), (col("start") + 1).cast("int"), col("chunk_len").cast("int")))))
      .select("doc_id", "chunk_id", "chunk_len", "chunk_md5")
      .orderBy("doc_id", "chunk_id")

  /** Generic PII-style pattern redaction: each (label, regex) is applied
    * in order, matches replaced by `<LABEL>`. Map-side only. Patterns
    * stick to portable regex (character classes, no lookarounds) so the
    * same pattern set runs identically in other engines. */
  def redact(c: org.apache.spark.sql.Column, patterns: Seq[(String, String)]): org.apache.spark.sql.Column =
    patterns.foldLeft(c) { case (acc, (label, re)) => regexp_replace(acc, re, s"<$label>") }

  val defaultPiiPatterns: Seq[(String, String)] = Seq(
    "EMAIL" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "IP" -> "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}",
    "PHONE" -> "\\+?[0-9][0-9()\\- ]{7,}[0-9]",
    "NUM" -> "[0-9]+")

  /** q80: redaction audit over the events `props` payload — digit runs
    * replaced by `<NUM>`, per-type row/char counts plus the lexicographic
    * min redacted sample as a content witness. */
  def redactAudit(events: DataFrame): DataFrame =
    events
      .select(
        col("event_type"),
        redact(col("props"), Seq("NUM" -> "[0-9]+")).as("redacted"),
        (length(col("props")) - length(regexp_replace(col("props"), "[0-9]", ""))).cast("long").as("digit_chars"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_rows"),
        sum("digit_chars").as("digits_redacted"),
        min("redacted").as("sample_redacted"))
      .orderBy("event_type")

  /** q97: per-source document caps (the RefinedWeb/Dolma "no domain may
    * dominate the mixture" rule) — keep at most `cap` docs per source,
    * chosen by deterministic content-free hash rank so the kept subset
    * is reproducible across runs, engines, and file layouts. The rank
    * is the `row_number <= k` idiom, which Spark 3.5+ executes as
    * Partial+Final WindowGroupLimit (bounded per-partition heaps before
    * the shuffle — plan-asserted), so no source's full document list is
    * ever sorted in one task. Output is the per-source audit: total vs
    * kept counts and the kept char mass. */
  def sourceCaps(documents: DataFrame, cap: Int = 50): DataFrame = {
    val w = Window.partitionBy("source").orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val kept = documents
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("chars_kept"))
    documents
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("source"))
      .select(
        col("source"), col("n_total"), col("n_kept"), col("chars_kept"),
        round(col("n_kept").cast("double") / col("n_total"), 4).as("keep_ratio"))
      .orderBy("source")
  }

  /** q105: deterministic WEIGHTED sampling per source (Efraimidis–
    * Spirakis A-ES): each doc gets key = ln(u)/w where u ∈ (0,1) is
    * derived from its content-free md5 hash (NOT a random draw — so
    * runs, engines, and layouts all select the identical sample) and
    * w = n_chars; the top-k keys per source are a weighted-without-
    * replacement sample (P ∝ length — the "sample tokens, not docs"
    * correction for training mixtures; q55/q97 are the unweighted
    * duals). Key computation is map-side; selection is the
    * `row_number<=k` WindowGroupLimit idiom — bounded pre-shuffle
    * heaps, no per-source sort. */
  def weightedSample(documents: DataFrame, k: Int = 20): DataFrame = {
    val w = Window.partitionBy("source").orderBy(desc("key"), asc("doc_id"))
    documents
      .withColumn("key", aesKey(col("doc_id"), col("n_chars")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("source", "doc_id", "n_chars")
      .orderBy("source", "doc_id")
  }

  /** q99: corpus-internal duplicated-passage detection (the practical
    * Spark form of suffix-array substring dedup, Lee et al. 2022): hash
    * every `windowTokens`-token window of every document, find windows
    * occurring in MORE THAN ONE document, and score each document by the
    * fraction of its windows that are corpus-duplicated. xxhash64 stands
    * in for the window strings end to end, so the duplicate-window
    * groupBy and the match-back join shuffle 8-byte keys, never text.
    * Both shuffles are data-proportional (Θ(total tokens)) — the honest
    * cost of corpus-internal substring search; there is no broadcast
    * side because the duplicate set scales with the corpus. Within-doc
    * repetition alone does NOT flag (count distinct doc > 1), keeping
    * this orthogonal to q57's repetition score. */
  /** Per-position window hashes (first 8 md5 bytes), shingling INSIDE
    * the kernel — the declarative `transform(shingles(...), xxhash64)`
    * form runs interpreted per position (the measured 5× HOF trap the
    * winnowing kernel avoids the same way). Position multiplicity is
    * preserved: n_windows counts positions, not distinct grams. The
    * spec pins kernel ≡ HOF dup structure. */
  private def windowHashUdf(k: Int) = udf { (toks: Seq[String]) =>
    val n = toks.length - k + 1
    if (n <= 0) Array.empty[Long]
    else {
      val arr = toks.toArray
      val md  = java.security.MessageDigest.getInstance("MD5")
      val sb  = new java.lang.StringBuilder
      Array.tabulate(n) { i =>
        sb.setLength(0)
        var j = 0
        while (j < k) { if (j > 0) sb.append(' '); sb.append(arr(i + j)); j += 1 }
        val d = md.digest(sb.toString.getBytes("UTF-8"))
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        h
      }
    }
  }

  def substringDedup(documents: DataFrame, windowTokens: Int = 8, flagAt: Double = 0.5): DataFrame = {
    val grams = documents
      .select(col("doc_id"), explode(windowHashUdf(windowTokens)(tokens(lower(col("text"))))).as("g"))
    val dupGrams = grams
      .groupBy("g")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select("g")
    val perDoc = grams
      .join(dupGrams, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_windows"))
    val windows = grams.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    documents.select("doc_id")
      .join(windows, Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        round(coalesce(col("n_dup_windows").cast("double") / col("n_windows"), lit(0.0)), 4)
          .as("dup_fraction"),
        (coalesce(col("n_dup_windows").cast("double") / col("n_windows"), lit(0.0)) > flagAt)
          .as("flagged"))
      .orderBy("doc_id")
  }

  /** q116: vocabulary build + out-of-vocabulary coverage (the
    * tokenizer-prep audit a pretraining pipeline runs before fixing a
    * vocab): corpus term frequencies → top-V vocabulary with a
    * deterministic tie-break (freq desc, token asc) → per-source OOV
    * token rate. The vocabulary is top-V of a term-frequency table —
    * `orderBy.limit` plans `TakeOrderedAndProject` (per-partition
    * heaps, no full sort) and the V-row result is BROADCAST back, so
    * the corpus-side coverage pass is one map-side left join + one
    * #sources-row aggregate. At 100 TB the TF table is vocab-sized
    * (sublinear in corpus), never corpus-sized. */
  def vocabOov(documents: DataFrame, vocabSize: Int = 500): DataFrame = {
    val toks = documents.select(col("source"), explode(tokens(lower(col("text")))).as("tok"))
    val vocab = toks
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("tok"))
      .limit(vocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .select(
        col("source"), col("n_tokens"), col("oov_tokens"),
        round(col("oov_tokens").cast("double") / col("n_tokens"), 4).as("oov_rate"))
      .orderBy("source")
  }

  /** q127: token-distribution entropy per source — the corpus-diversity
    * measure (low entropy = templated/repetitive source; the normalized
    * form is comparable across vocabulary sizes). One explode pass to
    * (source, token) frequencies — vocab-per-source-sized, sublinear in
    * the corpus — then per-source totals broadcast back and the entropy
    * collapses in one aggregate. −Σ p·ln p with p from exact counts. */
  def tokenEntropy(documents: DataFrame): DataFrame = {
    val tf = documents
      .select(col("source"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val totals = tf.groupBy("source").agg(sum("c").as("n"), count(lit(1)).as("vocab"))
    tf
      .join(broadcast(totals), Seq("source"))
      .withColumn("p", col("c").cast("double") / col("n"))
      .groupBy("source")
      .agg(
        first("n").as("n_tokens"),
        first("vocab").as("vocab"),
        round(-sum(col("p") * log(col("p"))), 4).as("entropy"),
        // a single-token source has no diversity to normalize (ln 1 = 0)
        round(
          when(first("vocab") > 1,
            -sum(col("p") * log(col("p"))) / log(first("vocab").cast("double")))
            .otherwise(lit(0.0)),
          4).as("norm_entropy"))
      .orderBy("source")
  }

  /** q253: Simpson lexical diversity per source — the collision-based
    * complement of q127's entropy: D = Σp² is the probability two
    * random tokens match, 1−D the Simpson index, 1/D the "effective
    * vocabulary" (how many equally-likely tokens the source behaves
    * as). Same vocab-sized tf aggregate as q127 — one scan, one
    * token-keyed shuffle, source-cardinality output; the repetition
    * signal corpus curation reads next to entropy (low effective vocab
    * = TEMPLATED text even when the raw vocab is large). */
  def simpsonDiversity(documents: DataFrame): DataFrame = {
    val tf = documents
      .select(col("source"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val totals = tf.groupBy("source").agg(sum("c").as("n"), count(lit(1)).as("vocab"))
    tf
      .join(broadcast(totals), Seq("source"))
      .withColumn("p", col("c").cast("double") / col("n"))
      .groupBy("source")
      .agg(
        first("n").as("n_tokens"),
        first("vocab").as("vocab"),
        round(lit(1.0) - sum(col("p") * col("p")), 4).as("simpson"),
        round(lit(1.0) / sum(col("p") * col("p")), 4).as("eff_vocab"))
      .orderBy("source")
  }

  /** q255: per-document mean token surprisal — the average
    * self-information −ln(c/N) of a doc's tokens under the corpus
    * unigram distribution (a hapax count degenerates to zero on any
    * templated corpus; surprisal is the smooth version of the same
    * rare-token signal). High-surprisal docs carry OCR noise, mojibake,
    * random-string spam, or genuinely novel text — the curation signal
    * read next to q31's ratios and q71's LM score. One vocab-sized tf
    * aggregate, one token-keyed join back to the exploded stream (no
    * broadcast assumption — scales with the token stream), one doc-grain
    * aggregate. Top-k orders on the PRE-ROUNDED score with doc_id
    * tie-break, so both engines rank identically. */
  def docSurprisal(documents: DataFrame, topN: Int = 20): DataFrame = {
    val toks = documents
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
    val tf = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val n = tf.agg(sum("c").as("n_corpus"))
    toks
      .join(tf, "tok")
      .crossJoin(broadcast(n))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(-log(col("c").cast("double") / col("n_corpus"))), 4).as("mean_surprisal"))
      .orderBy(desc("mean_surprisal"), asc("doc_id"))
      .limit(topN)
  }

  /** q141: BPE merge-step statistics — the inner loop of byte-pair
    * encoding vocabulary induction: adjacent character-pair counts
    * across the corpus. The corpus collapses to the WORD-FREQUENCY
    * table first (vocab-sized, sublinear in corpus bytes); pair
    * explosion then runs over the vocab only, each word contributing
    * its pairs once with weight = its corpus frequency — the classic
    * BPE implementation trick, and exactly why this scales: 100 TB of
    * text becomes a few-million-row weighted word table before any
    * per-character work happens. Top pairs by weighted count with a
    * deterministic tie-break (the pair a BPE trainer would merge
    * next). */
  def bpePairStats(documents: DataFrame, topK: Int = 20): DataFrame = {
    val words = documents
      .select(explode(tokens(lower(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    words
      .filter(length(col("w")) >= 2)
      .select(col("freq"), col("w"), explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("freq"), expr("substring(w, i, 2)").as("pair"))
      .groupBy("pair").agg(sum("freq").as("n"))
      .orderBy(desc("n"), asc("pair"))
      .limit(topK)
  }

  /** q273: BPE vocabulary TRAINING — the full merge loop whose single
    * inner step q141 measures. Byte-pair encoding induction is
    * inherently sequential (merge k+1's counts depend on merge k's
    * rewrite), so the Spark shape is the distributed dual of the
    * classic trainer: the corpus collapses ONCE to the weighted
    * word-frequency table (vocab-sized — 100 TB of text becomes a
    * few-million-row table before any per-character work), each word
    * exploded to a symbol array; then [[BoundedIteration.fixpoint]]
    * runs `numMerges` rounds of
    *
    *   1. adjacent-pair counts over the vocab table (one vocab-sized
    *      shuffle with map-side combine — pairs carry the word's corpus
    *      frequency as weight),
    *   2. a 1-row ordered `limit(1)` picking the next merge
    *      (weighted count desc, then pair asc — the deterministic
    *      tie-break a reproducible tokenizer needs),
    *   3. a left-to-right greedy rewrite of every symbol array (the
    *      standard non-overlapping merge semantics), checkpointed so
    *      round k+1 plans O(1)-deep.
    *
    * Per-round cost is vocab-proportional and independent of corpus
    * bytes — the property that makes BPE trainable at all at scale.
    * Stops early when no pair remains (every word fully merged).
    * Returns the learned merge table: (rank, left, right, merged,
    * weighted_count) — the artifact a tokenizer ships. */
  /** Unsigned UTF-8 byte order — Spark's string `asc`, replicated so the
    * driver-side trainer picks bit-identical merges to the distributed
    * `orderBy(asc(l), asc(r))` tie-break. */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Vocab-row ceiling for running the merge loop in the driver: at
    * ~50 B/row, 2 M rows ≈ 100 MB collected — inside default
    * maxResultSize with room. Above it the trainer degrades to the
    * distributed round loop (slower, unbounded) instead of OOMing. */
  private[operators] val MaxDriverVocab = 2000000

  def bpeTrain(documents: DataFrame, numMerges: Int = 10): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val init = documents
      .select(explode(tokens(lower(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("syms"), col("freq"))
    val merges = scala.collection.mutable.ListBuffer.empty[(Long, String, String, String, Long)]
    // r12 (guide §1.2): the merge loop is inherently SEQUENTIAL — each
    // round's pair counts depend on the previous rewrite — so the old
    // shape paid 2 driver-synchronized jobs per round (pair-count
    // collect + rewrite checkpoint), 20+ jobs for 10 merges, all over a
    // vocab-sized table. The vocab is sublinear in corpus bytes ("few
    // million rows at 100 TB"), so when it fits the driver the whole
    // loop runs in-process over ONE collected copy: 1 job total.
    // limit(N+1) detects overflow in the same job; the oversized case
    // falls back to the distributed rounds. Pair weights are exact
    // integers and the tie-break replicates Spark's UTF-8 string order,
    // so both paths emit bit-identical merge tables.
    val collected = init.limit(MaxDriverVocab + 1).collect()
    if (collected.length <= MaxDriverVocab) {
      val words = collected.map(r => (r.getSeq[String](0).toArray, r.getLong(1)))
      var round = 0
      var exhausted = false
      while (round < numMerges && !exhausted) {
        val counts = new java.util.HashMap[(String, String), java.lang.Long]()
        words.foreach { case (syms, freq) =>
          var i = 0
          while (i + 1 < syms.length) {
            counts.merge((syms(i), syms(i + 1)), freq, (a, b) => a + b)
            i += 1
          }
        }
        if (counts.isEmpty) exhausted = true
        else {
          var bestL: String = null; var bestR: String = null; var bestN = Long.MinValue
          counts.forEach { (k, v) =>
            val better = v > bestN ||
              (v == bestN && (utf8Less(k._1, bestL) ||
                (k._1 == bestL && utf8Less(k._2, bestR))))
            if (better) { bestL = k._1; bestR = k._2; bestN = v }
          }
          merges += ((round + 1L, bestL, bestR, bestL + bestR, bestN))
          // left-to-right greedy non-overlapping rewrite, in place
          var w = 0
          while (w < words.length) {
            val syms = words(w)._1
            if (syms.length >= 2) {
              val out = scala.collection.mutable.ArrayBuffer.empty[String]
              var i = 0
              while (i < syms.length) {
                if (i + 1 < syms.length && syms(i) == bestL && syms(i + 1) == bestR) {
                  out += (bestL + bestR); i += 2
                } else { out += syms(i); i += 1 }
              }
              if (out.length != syms.length) words(w) = (out.toArray, words(w)._2)
            }
            w += 1
          }
        }
        round += 1
      }
    } else {
      var exhausted = false
      BoundedIteration.fixpoint(init, numMerges, converged = (_, _, _) => exhausted) { (words, round) =>
        val top = words
          .filter(size(col("syms")) >= 2)
          .select(col("freq"), explode(
            expr("transform(sequence(0, size(syms)-2), i -> struct(syms[i] AS l, syms[i+1] AS r))")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("freq").as("n"))
          .orderBy(desc("n"), asc("l"), asc("r"))
          .limit(1)
          .collect()
        if (top.isEmpty) { exhausted = true; words }
        else {
          val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((round + 1L, l, r, l + r, n))
          // left-to-right greedy non-overlapping rewrite — the standard
          // BPE merge semantics ("aaa" under a+a → "aa","a", not 2 merges)
          val mergeUdf = udf { (syms: Seq[String]) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += (l + r); i += 2 }
              else { out += syms(i); i += 1 }
            }
            out.toSeq
          }
          words.select(mergeUdf(col("syms")).as("syms"), col("freq"))
        }
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "weighted_count")
      .orderBy("rank")
  }

  /** q279: BPE corpus ENCODING with the q273-trained vocabulary — the
    * apply half of the tokenizer loop (train → encode → per-source
    * fertility/compression report, the numbers a data-mixture owner
    * reads before spending a training run).
    *
    * Encode replays the merge list in RANK order, each merge as the
    * same greedy left-to-right non-overlapping rewrite the trainer
    * used, so a training word round-trips to exactly its trained
    * segmentation. Scale shape: the merge list is numMerges rows
    * (driver-held, closed over by the JIT encode kernel); each DISTINCT
    * word is encoded ONCE over the vocab-sized distinct-word table,
    * then the per-(doc, word) count table joins that vocab on the word
    * key — corpus bytes are never re-tokenized per occurrence, and the
    * expensive per-word loop runs Θ(vocab), not Θ(corpus tokens). The
    * report is a source-cardinality aggregate. */
  def bpeEncode(documents: DataFrame, numMerges: Int = 10): DataFrame = {
    val mergeList = bpeTrain(documents, numMerges)
      .select("left", "right").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val encodeUdf = udf { (w: String) =>
      var syms: Array[String] = w.split("")
      mergeList.foreach { case (l, r) =>
        if (syms.length >= 2) {
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.toArray
        }
      }
      syms.length
    }
    val words = documents
      .select(col("doc_id"), col("source"), explode(tokens(lower(col("text")))).as("w"))
    val vocab = words.select("w").distinct()
      .withColumn("n_sub", encodeUdf(col("w")))
    words
      .groupBy(col("doc_id"), col("source"), col("w"))
      .agg(count(lit(1)).as("n"))
      .join(vocab, "w")
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n")).as("n_words"),
        sum(col("n") * col("n_sub")).as("n_bpe_tokens"),
        sum(col("n") * length(col("w"))).as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") / col("n_words"), 4).as("fertility"),
        round(col("n_chars").cast("double") / col("n_bpe_tokens"), 4).as("chars_per_token"))
      .orderBy("source")
  }

  /** q117: Zipf rank–frequency slope per language — the corpus-health
    * diagnostic (natural text has log-freq ≈ a − s·log-rank with
    * s ≈ 1; machine-generated or degenerate corpora drift): per-lang
    * term frequencies, rank by (freq desc, token asc), and a
    * least-squares fit of ln(freq) on ln(rank) over the top ranks via
    * the NATIVE regression aggregates (`regr_slope`/`regr_r2` — no
    * UDF, no collect). The rank window is partitioned per lang over
    * the vocab-sized TF table and `rk <= topRanks` plans the
    * Partial+Final WindowGroupLimit (bounded pre-shuffle heaps). */
  def zipfSlope(documents: DataFrame, topRanks: Int = 100): DataFrame = {
    val tf = documents
      .select(col("lang"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy(desc("n"), asc("tok"))
    tf
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topRanks)
      .groupBy("lang")
      .agg(
        round(regr_slope(log(col("n")), log(col("rk"))), 4).as("zipf_slope"),
        round(regr_r2(log(col("n")), log(col("rk"))), 4).as("zipf_r2"),
        count(lit(1)).as("n_ranks"))
      .orderBy("lang")
  }

  /** q166: Neyman-allocation stratified sampling — the survey-statistics
    * answer to "given a total budget B, how many docs should each
    * stratum contribute?": n_h ∝ N_h·σ_h, so big AND internally-varied
    * strata get more rows, low-variance strata fewer — minimum-variance
    * estimates for a fixed budget vs q55's uniform rates.
    *
    * One stats pass (stratum-cardinality N_h/σ_h), allocation arithmetic
    * on the tiny stats table with weights pre-rounded to 4 decimals
    * (cross-engine float discipline before any floor), then the n_h
    * selection in deterministic md5 priority — ranked by
    * [[GlobalOrder.withGroupedRowNumber]] over the 2-hex md5-prefix
    * buckets (the q149 trick), so no stratum is ever sorted in one
    * task. Output is the per-stratum reconciliation: population,
    * allocation, selection, and the selected-set mean. */
  def neymanSample(documents: DataFrame, budget: Int = 100): DataFrame = {
    val scored = documents.select(
      col("doc_id"), col("source"),
      length(col("text")).cast("double").as("x"),
      md5(col("doc_id").cast("string")).as("priority"))
    val stats = scored.groupBy("source").agg(
      count(lit(1)).as("n_pop"),
      stddev_pop(col("x")).as("sigma"))
    val totalW = stats.agg(sum(col("n_pop") * col("sigma")).as("tw"))
    val alloc = stats
      .join(broadcast(totalW))
      .withColumn("w", round(col("n_pop") * col("sigma") / col("tw"), 4))
      .withColumn("n_alloc",
        least(col("n_pop"), floor(lit(budget) * col("w") + 0.5).cast("long")))
      .select("source", "n_pop", "sigma", "n_alloc")
    val ranked = GlobalOrder.withGroupedRowNumber(
      scored, Seq("source"), substring(col("priority"), 1, 2), Seq("priority", "doc_id"), "rk")
    ranked
      .join(broadcast(alloc), Seq("source"))
      .filter(col("rk") <= col("n_alloc"))
      .groupBy("source")
      .agg(
        first("n_pop").as("n_pop"),
        round(first("sigma"), 4).as("sigma"),
        first("n_alloc").as("n_alloc"),
        count(lit(1)).as("n_selected"),
        round(avg("x"), 4).as("avg_chars_selected"))
      .orderBy("source")
  }

  /** q170: quantile normalization across sources — re-express every
    * source's length distribution ON the global distribution (the
    * batch-effect-removal preprocessing step: after it, all strata share
    * one distribution shape, only their internal ORDER remains). Each
    * row's within-source quantile position maps to the global value at
    * the same position: within-source ranks come from
    * [[GlobalOrder.withGroupedRowNumber]] (fixed-width length buckets —
    * monotone in the sort, no stratum sorted in one task), the global
    * value-at-rank table from [[GlobalOrder.withGlobalRowNumber]], and
    * the lookup is a data-proportional equi-join on the mapped rank.
    * Output at source grain: raw vs normalized means (the law: every
    * source's normalized mean approaches the global mean). */
  def quantileNormalize(documents: DataFrame): DataFrame = {
    val s = documents.select(
      col("doc_id"), col("source"), length(col("text")).cast("double").as("x"))
    val globalRanked = GlobalOrder.withGlobalRowNumber(
      s, col("x"), Seq("x", "doc_id"), "gr", "__n")
    val lookup = globalRanked.select(col("x").as("gx"), col("gr"))
    val total = globalRanked.select(col("__n")).limit(1)
    val nh = s.groupBy("source").agg(count(lit(1)).as("nh"))
    val ranked = GlobalOrder.withGroupedRowNumber(
      s, Seq("source"), least(floor(col("x") / 250), lit(19)), Seq("x", "doc_id"), "rk")
    ranked
      .join(broadcast(nh), Seq("source"))
      .join(broadcast(total))
      .withColumn("tr",
        least(col("__n"), greatest(lit(1L),
          floor((col("rk") - 0.5) / col("nh") * col("__n")).cast("long") + 1)))
      .join(lookup, col("tr") === col("gr"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("x"), 4).as("avg_raw"),
        round(avg("gx"), 4).as("avg_normalized"))
      .orderBy("source")
  }

  /** q161: distribution-drift monitor — Jensen–Shannon divergence of each
    * source's document-length histogram against the corpus reference: the
    * per-ingest-window drift alarm a training-data pipeline runs before a
    * new slice is allowed into the mix (the distributional cousin of
    * q126's categorical chi-square).
    *
    * One map-side binning pass collapses the corpus to (source × bins)
    * cells; the reference histogram is bins-sized; the cross grid is
    * densified from distinct sources × a literal bin spine so
    * zero-observation bins still contribute (q126 discipline), with
    * +0.5 Laplace smoothing so no log ever sees zero. Everything past the
    * cell groupBy is broadcast at (sources × bins) cardinality. JS is
    * symmetric and bounded by ln 2 — thresholdable without tuning per
    * source, which is why it beats raw KL for an alarm. */
  def lengthDrift(documents: DataFrame, binWidth: Int = 200, nBins: Int = 10): DataFrame = {
    val bin = least(floor(length(col("text")) / binWidth), lit(nBins - 1)).cast("int")
    val cells = documents
      .groupBy(col("source"), bin.as("bin"))
      .agg(count(lit(1)).as("c"))
    val refTotals = cells.groupBy("bin").agg(sum("c").as("rc"))
    val spine = cells.select("source").distinct()
      .crossJoin(broadcast(
        documents.sparkSession.range(nBins).select(col("id").cast("int").as("bin"))))
    val dense = spine
      .join(broadcast(cells), Seq("source", "bin"), "left")
      .join(broadcast(refTotals), Seq("bin"), "left")
      .select(
        col("source"), col("bin"),
        (coalesce(col("c"), lit(0L)).cast("double") + 0.5).as("sc"),
        (coalesce(col("rc"), lit(0L)).cast("double") + 0.5).as("rc"))
    val totals = dense.groupBy("source")
      .agg(sum("sc").as("sn"), sum("rc").as("rn"))
    dense
      .join(broadcast(totals), Seq("source"))
      .select(
        col("source"),
        (col("sc") / col("sn")).as("p"),
        (col("rc") / col("rn")).as("q"),
        (col("sc") - 0.5).as("c"))
      .select(
        col("source"), col("p"), col("q"), col("c"),
        ((col("p") + col("q")) / 2).as("m"))
      .groupBy("source")
      .agg(
        sum("c").cast("long").as("n_docs"),
        round(
          (sum(col("p") * log(col("p") / col("m"))) +
            sum(col("q") * log(col("q") / col("m")))) / 2, 4).as("js_divergence"))
      .orderBy("source")
  }

  /** q188: Heaps'-law vocabulary growth per source — total tokens N,
    * vocabulary size V, the Heaps exponent estimate β = ln V / ln N
    * (V = K·N^β with K = 1), and the type-token ratio. The tokenize →
    * count is one explode pass with map-side partial counts to source
    * grain; the exact per-source distinct rides the same shuffle as any
    * COUNT DISTINCT (the q54 HLL table is the approximate path when
    * exactness can be traded). A source whose β drifts from its history
    * signals template/boilerplate flooding (V stalls) or encoding junk
    * (V explodes) — a corpus-health alarm next to q161's length drift. */
  def heapsLaw(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("tok")).as("n_types"))
      .select(
        col("source"), col("n_tokens"), col("n_types"),
        round(log(col("n_types")) / log(col("n_tokens")), 4).as("heaps_beta"),
        round(col("n_types") / col("n_tokens"), 4).as("ttr"))
      .orderBy("source")

  /** q193: n-gram novelty attribution per source — for each document,
    * the fraction of its distinct 8-token shingles whose FIRST corpus
    * occurrence (min doc_id over all docs containing the shingle) is
    * this document; per source, the average novelty. This is the
    * "how much genuinely new content does each source add" report that
    * complements removal-oriented dedup (q99 flags copies; this
    * attributes originals). Shingles are md5-keyed (portable to the
    * oracle); ownership is ONE shingle-keyed min aggregate; the join
    * back to docs is shingle-keyed and data-proportional. Distinct
    * shingle sets per doc are computed BEFORE ownership, so repeated
    * boilerplate inside one doc counts once. At 100 TB the shingle key
    * would drop to an 8-byte hash (q99's trick) — md5 strings here keep
    * the oracle byte-identical. */
  def shingleNovelty(documents: DataFrame, windowTokens: Int = 8): DataFrame = {
    val w = split(col("text"), " ")
    // r11: the shingle key is pure grouping identity (ownership = min
    // doc_id per shingle) — any injective hash works, so the 32-char md5
    // hex string became an 8-byte xxhash64: ~5× narrower shuffle rows
    // for the distinct + ownership aggregate + join, and a far cheaper
    // hash to compute (the same 63-bit-identity argument as the q201
    // shingle kernel; a collision is a ~1e-12 event)
    val shingles = documents
      .filter(size(w) >= windowTokens)
      .select(col("doc_id"), col("source"),
        explode(transform(
          sequence(lit(1), size(w) - lit(windowTokens - 1)),
          i => xxhash64(array_join(slice(w, i, lit(windowTokens)), " ")))).as("shingle"))
      .distinct()
      // read twice (ownership aggregate + join back) — persist the
      // deduped shingle set so the explode+hash scan runs once
      .cache()
    val owner = shingles
      .groupBy("shingle")
      .agg(min(col("doc_id")).as("owner"))
    val perDoc = shingles
      .join(owner, "shingle")
      .groupBy(col("doc_id"), col("source"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("doc_id") === col("owner"), 1L).otherwise(0L)).as("n_novel"))
    perDoc
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_novel") / col("n_shingles")), 4).as("avg_novelty"),
        round(sum(col("n_novel")) / sum(col("n_shingles")), 4).as("pooled_novelty"))
      .orderBy("source")
  }

  /** q205: Misra–Gries heavy hitters with exact recount — the
    * guarantee-backed sketch-then-verify pattern: the O(k)
    * [[graft.plans.MisraGriesTopK]] summary finds every token that
    * COULD exceed n/k (guaranteed — MG's undercount is < n/k), one
    * candidate-restricted recount attaches exact counts, and the final
    * `count > n/k` filter makes the answer EXACTLY the true
    * heavy-hitter set, deterministic despite the summary's
    * merge-order-dependent internals. At 100 TB: the sketch pass is one
    * O(k)-state aggregate, the recount scans once more but counts only
    * candidate keys (≤ k−1 of them, broadcast) — never a full-vocab
    * groupBy. */
  def mgHeavyHitters(documents: DataFrame, k: Int = 30): DataFrame = {
    val toks = documents
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val summary = toks
      .agg(graft.functions.SketchFunctions.mgTopK(col("tok"), k).as("s"))
      .select(col("s.n").as("n"), explode(col("s.items.item")).as("tok"))
      .cache() // ≤ k−1 rows, read twice (candidate semi-join + n attach)
    val exact = toks
      .join(broadcast(summary.select("tok")), Seq("tok"), "left_semi")
      .groupBy("tok")
      .agg(count(lit(1)).as("n_occurrences"))
    exact
      .join(broadcast(summary), Seq("tok"))
      .filter(col("n_occurrences") > col("n") / k)
      .select(col("tok"), col("n_occurrences"),
        round(col("n_occurrences") / col("n") * 100, 4).as("pct"))
      .orderBy(desc("n_occurrences"), col("tok"))
  }

  /** q202: bigram collocations by pointwise mutual information — the
    * corpus-linguistics "which word pairs travel together" report (the
    * statistical core of phrase mining / tokenizer-merge scoring beside
    * q141's BPE counts). PMI = ln[(c_ab/N₂) / ((c_a/N₁)(c_b/N₁))] over
    * adjacent bigrams; a minimum pair count filters the unstable
    * low-frequency tail. Bigrams are a row-local zip of the token array
    * with its own shift (no self-join); unigram/bigram tables are
    * vocab-sized; the two corpus totals ride the 1-row broadcast scalar
    * idiom. */
  def pmiBigrams(documents: DataFrame, minCount: Long = 5, topK: Int = 20): DataFrame = {
    val w = split(col("text"), " ")
    val bigrams = documents
      .filter(size(w) >= 2)
      .select(explode(arrays_zip(
        slice(w, lit(1), size(w) - 1).as("a"),
        slice(w, lit(2), size(w) - 1).as("b"))).as("bg"))
      .select(col("bg.a").as("a"), col("bg.b").as("b"))
    val unigrams = documents
      .select(explode(w).as("tok"))
      .filter(length(col("tok")) > 0)
    val uniCounts = unigrams.groupBy("tok").agg(count(lit(1)).as("c"))
    val n1 = unigrams.agg(count(lit(1)).as("n1"))
    val n2 = bigrams.agg(count(lit(1)).as("n2"))
    bigrams
      .groupBy("a", "b")
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .join(broadcast(uniCounts.select(col("tok").as("a"), col("c").as("c_a"))), "a")
      .join(broadcast(uniCounts.select(col("tok").as("b"), col("c").as("c_b"))), "b")
      .crossJoin(broadcast(n1))
      .crossJoin(broadcast(n2))
      .withColumn("pmi",
        log((col("c_ab") / col("n2")) / ((col("c_a") / col("n1")) * (col("c_b") / col("n1")))))
      .select(col("a"), col("b"), col("c_ab"), round(col("pmi"), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** q203: BM25 ranked retrieval for a fixed term set — the lexical
    * leg of the hybrid stack (q74 builds tf-idf features; this SCORES
    * AND RANKS with the retrieval-standard saturation formula; q163
    * fuses a lexical leg with ANN). Per-term tf and doc length come
    * from one explode pass; document frequency is term-cardinality;
    * N and avgdl ride the 1-row broadcast scalar idiom; the top-k is a
    * TakeOrdered on (rounded score, doc_id). */
  def bm25(
      documents: DataFrame,
      terms: Seq[String] = Seq("spark", "table", "query"),
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    val toks = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = toks
      .filter(col("tok").isInCollection(terms))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf
      .join(broadcast(df), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("score",
        col("idf") * col("tf") * (lit(k1) + 1.0)
          / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("score")), 4).as("bm25"), count(lit(1)).as("n_terms_hit"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** q189: tokenizer fertility by language — characters per whitespace
    * token and tokens per document, the capacity-planning numbers behind
    * any token-budgeted pipeline (q149/q58): a language whose
    * chars-per-token runs high (e.g. unsegmented scripts) blows a byte
    * budget long before its token budget. Token counts are a row-local
    * array expression (no explode — the per-doc count never leaves the
    * map side), so the aggregate is one language-cardinality shuffle. */
  def tokenizerFertility(documents: DataFrame): DataFrame = {
    val nTok = size(filter(split(col("text"), " "), t => length(t) > 0))
    documents
      .select(col("lang"), length(col("text")).as("nc"), nTok.as("nt"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        round(sum(col("nc")) / sum(col("nt")), 4).as("chars_per_token"),
        round(avg(col("nt")), 4).as("avg_tokens_per_doc"))
      .orderBy("lang")
  }

  /** q239: language-ID confusion matrix — the evaluation harness q35
    * lacks: its per-doc predictions cross-tabulated against the corpus
    * labels, dense over the label×prediction grid (absent cells kept
    * at 0 — the q126 densification discipline) with per-label recall
    * and the global accuracy attached via the 1-row broadcast scalar.
    * One prediction pass, #langs² rollup — model evaluation never
    * rescans the corpus. */
  def langConfusion(documents: DataFrame): DataFrame = {
    val preds = langId(documents)
      .select(col("labeled_lang"), col("pred_lang"))
    val cells = preds.groupBy("labeled_lang", "pred_lang").agg(count(lit(1)).as("n"))
    // prediction axis = labels ∪ predictions: the predictor's marker
    // set can emit a language the corpus never labels, and a
    // label-only grid would silently DROP those cells (breaking
    // label-count conservation while accuracy still counted the docs)
    val labels = preds.select(col("labeled_lang").as("l")).distinct()
    val predDomain = labels
      .unionByName(preds.select(col("pred_lang").as("l")))
      .distinct()
    val grid = labels.crossJoin(
      predDomain.select(col("l").as("p")))
      .select(col("l").as("labeled_lang"), col("p").as("pred_lang"))
    val totals = cells.groupBy("labeled_lang").agg(sum("n").as("n_label"))
    val acc = cells.agg(
      round(sum(when(col("labeled_lang") === col("pred_lang"), col("n")).otherwise(0L))
        / sum("n").cast("double"), 4).as("accuracy"))
    grid
      .join(cells, Seq("labeled_lang", "pred_lang"), "left")
      .join(broadcast(totals), Seq("labeled_lang"))
      .crossJoin(broadcast(acc))
      .select(
        col("labeled_lang"), col("pred_lang"),
        coalesce(col("n"), lit(0L)).as("n"),
        round(coalesce(col("n"), lit(0L)) / col("n_label").cast("double"), 4).as("frac_of_label"),
        col("accuracy"))
      .orderBy("labeled_lang", "pred_lang")
  }

  /** q235: compression-ratio quality filter (the Gopher-family
    * repetition heuristic q57 approximates with n-gram counting, done
    * exactly): deflate each document once (java.util.zip, level 6 —
    * deterministic for a fixed level and input) and report
    * compressed/raw byte ratios per source with the share of docs
    * under a "too compressible = too repetitive" threshold. A UDF by
    * necessity (no codec expression exists) — per-row cost is the
    * codec itself, the aggregate shapes stay map-side; at 100 TB this
    * is the same single-pass-over-text cost class as tokenization.
    * Rows-only: no SQL engine exposes a portable deflate. */
  def compressionFilter(documents: DataFrame, flagBelow: Double = 0.4): DataFrame = {
    val ratioUdf = udf { (s: String) =>
      // null-safe (NULL text → ratio 1, no NPE) and chunk-drained: a
      // fixed output buffer sized raw+64 would deadlock the deflate
      // loop on ~170 KB+ of incompressible input (zlib worst-case
      // overhead outgrows the slack) — draining into a reused chunk
      // only COUNTS bytes, so any output size terminates
      val raw = if (s == null) Array.empty[Byte] else s.getBytes("UTF-8")
      if (raw.isEmpty) 1.0
      else {
        val d = new java.util.zip.Deflater(6)
        d.setInput(raw); d.finish()
        val chunk = new Array[Byte](8192)
        var n = 0L
        while (!d.finished()) n += d.deflate(chunk)
        d.end()
        n.toDouble / raw.length
      }
    }
    documents
      .withColumn("ratio", ratioUdf(col("text")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("ratio"), 4).as("avg_ratio"),
        round(min("ratio"), 4).as("min_ratio"),
        round(avg((col("ratio") < flagBelow).cast("double")) * 100, 4)
          .as("pct_flagged"))
      .orderBy("source")
  }

  /** q299: TextRank keyword extraction — PageRank over the word
    * co-occurrence graph (adjacent lowercase tokens after stopword
    * removal, undirected, weighted by corpus co-occurrence count), the
    * unsupervised keyword ranker that beats raw frequency by rewarding
    * CONNECTED words. Two unrolled weighted-PageRank iterations from
    * the uniform score with damping d = 0.875 (an exact binary
    * fraction, so 1−d is representable and the oracle replays the
    * identical IEEE sequence — the q281/q292 unrolled-oracle
    * discipline; convergence runs route through [[BoundedIteration]]
    * like q98).
    *
    * Scale: token positions are map-side row work; the bigram groupBy
    * collapses to the observed-bigram frame (corpus-vocab bounded, not
    * document bounded); each iteration is one edge-proportional
    * equi-join + node groupBy. Top-k on the ROUNDED score with token
    * tie-break via the WindowGroupLimit-rewritten row_number idiom. */
  def textRank(documents: DataFrame, topN: Int = 20): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to")
    val toks = filter(tokens(lower(col("text"))), t => !t.isin(stop: _*))
    val pos = documents
      .select(col("doc_id"), posexplode(toks).as(Seq("p", "w")))
    val bigrams = pos.as("x")
      .join(pos.as("y"),
        col("x.doc_id") === col("y.doc_id") && col("y.p") === col("x.p") + 1)
      .select(col("x.w").as("a"), col("y.w").as("b"))
      .filter(col("a") =!= col("b")) // self-loops add no ranking signal
    val edges = bigrams
      .unionAll(bigrams.select(col("b").as("a"), col("a").as("b")))
      .groupBy("a", "b").agg(count(lit(1)).as("e"))
    val wdeg = edges.groupBy("a").agg(sum("e").as("wd"))
    val nodes = wdeg.agg(count(lit(1)).as("nv")) // 1-row scalar
    val d = 0.875
    // r1(w) = (1−d)/N + d·Σ_u e(u,w)/wd(u) · (1/N)
    val r1 = edges
      .join(wdeg, "a")
      .crossJoin(broadcast(nodes))
      .groupBy(col("b").as("w"), col("nv"))
      .agg(sum(col("e") / col("wd") / col("nv")).as("m1"))
      .select(col("w"), (lit(1.0 - d) / col("nv") + lit(d) * col("m1")).as("r1"))
    val r2 = edges
      .join(wdeg, "a")
      .join(r1.withColumnRenamed("w", "a"), "a")
      .crossJoin(broadcast(nodes))
      .groupBy(col("b").as("w"), col("nv"))
      .agg(sum(col("e") / col("wd") * col("r1")).as("m2"))
      .select(col("w"), round(lit(1.0 - d) / col("nv") + lit(d) * col("m2"), 6)
        .as("textrank"))
    // global top-k via TakeOrdered (orderBy+limit — no data-sized
    // window); the (rounded score, token) order is total ⇒ deterministic
    r2.select(col("w").as("keyword"), col("textrank"))
      .orderBy(col("textrank").desc, col("keyword"))
      .limit(topN)
  }

  /** q316: blocklist content-filter report — the safety-filtering
    * surface every corpus pipeline runs before training: per (source,
    * term) match counts and rates against an explicit term list
    * (substring semantics, phrases included), with zero-match cells
    * kept so the matrix shape is stable and a NEW match is visible as a
    * change, not a new row. The report form (not a filter) because the
    * first question is always "how much would we lose, where" before
    * anything is dropped.
    *
    * Scale: the term list explodes map-side (fact × K rows, K literal
    * and tiny); per-source totals broadcast back; the dense grid is
    * #sources × K. A large blocklist (10⁵ terms) would swap the explode
    * for an Aho–Corasick pass in mapPartitions — the seam is the same
    * report schema. */
  def blocklistReport(
      documents: DataFrame,
      terms: Seq[String] = Seq("slow", "spark", "merge batch")): DataFrame = {
    val termCol = explode(array(terms.map(lit): _*)).as("term")
    val hits = documents
      .select(col("source"), col("text"), termCol)
      .filter(col("text").contains(col("term")))
      .groupBy("source", "term").agg(count(lit(1)).as("n_flagged"))
    val perSource = documents.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val grid = perSource.crossJoin(
      documents.sparkSession.createDataFrame(
        terms.map(Tuple1(_))).toDF("term")) // #sources × K literal grid
    grid
      .join(hits, Seq("source", "term"), "left")
      .withColumn("n_flagged", coalesce(col("n_flagged"), lit(0L)))
      .select(
        col("source"), col("term"), col("n_docs"), col("n_flagged"),
        round(col("n_flagged").cast("double") / col("n_docs"), 4).as("flag_rate"))
      .orderBy("source", "term")
  }

  /** q314: feature-hashing (hashing-trick) document vectors — the
    * encoder-free text→vector bridge (Weinberger et al.): each token
    * hashes to one of `dims` buckets with a ±1 sign from an independent
    * hash bit, so collisions cancel in expectation instead of biasing
    * upward; the signed term-frequency vector is then L2-normalized and
    * feeds the SAME similarity stack real embeddings use (q51's cosine,
    * q88's centroids) with zero model dependency. Hashes are md5 hex
    * digits (the q55/q293 portable idiom), so vectors are bit-stable
    * across engines and reruns.
    *
    * Scale: token explode is map-side row work; the (doc, dim) groupBy
    * partial-aggregates before its shuffle (wire carries ≤ dims rows
    * per doc); the L2 normalizer is a ≤dims-row window per doc. Long
    * format (doc_id, dim, val) keeps results hash-comparable. */
  def featureHashing(documents: DataFrame, dims: Int = 16, maxDocs: Int = 50): DataFrame = {
    val toks = documents
      .filter(col("doc_id") < maxDocs)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
      // dim = value of md5 hex digit 1 (0..15, uniform) % dims;
      // sign = parity of hex digit 2 — independent bits of the hash
      .withColumn("hx1", expr("instr('0123456789abcdef', substring(md5(tok), 1, 1)) - 1"))
      .withColumn("hx2", expr("instr('0123456789abcdef', substring(md5(tok), 2, 1)) - 1"))
      .select(
        col("doc_id"),
        (col("hx1") % lit(dims)).cast("int").as("dim"),
        when(col("hx2") % 2 === 0, lit(1.0)).otherwise(lit(-1.0)).as("sign"))
    val cells = toks.groupBy("doc_id", "dim")
      .agg(sum("sign").as("v")) // signed tf
    val wd = Window.partitionBy("doc_id") // ≤ dims rows per doc
    cells
      .withColumn("nrm", sqrt(sum(col("v") * col("v")).over(wd)))
      .filter(col("nrm") > 0)
      .select(
        col("doc_id"), col("dim"),
        round(col("v") / col("nrm"), 4).as("val"))
      .orderBy("doc_id", "dim")
  }

  /** q309: duplicate-cluster size distribution — the shape of exact
    * duplication (q33's fingerprint): how many clusters of each size,
    * how many documents they hold, and each size's share of the corpus.
    * The governance histogram that distinguishes "2% boilerplate
    * repeated everywhere" from "broad light duplication" — same dup
    * rate, opposite dedup strategies. Two bounded groupBys: fingerprint
    * → size (fact-proportional, map-side combinable), size → histogram
    * (≤ max-cluster-size rows). */
  def dupClusterDist(documents: DataFrame): DataFrame = {
    val sizes = documents
      .select(fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("cluster_size"))
    val total = documents.agg(count(lit(1)).as("n_total"))
    sizes
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .crossJoin(broadcast(total))
      .select(
        col("cluster_size"), col("n_clusters"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total"), 4).as("pct_docs"))
      .orderBy("cluster_size")
  }

  /** q294: cross-source duplication matrix — for every source pair, the
    * number of exact content fingerprints (q33's md5-of-normalized-text)
    * present in BOTH, plus the fingerprint Jaccard. The corpus-
    * governance view behind q100's row-level cross dedup: "how much of
    * source B is already in source A" decides crawl priorities and
    * dedup order. Pairs with zero overlap are emitted too (a left join
    * against the bounded source-pair frame), so the matrix shape is
    * stable.
    *
    * Scale: one fact-proportional distinct to (source, fp); the pair
    * join is fp-equi (shuffle on fingerprint, never all-pairs), and the
    * pair frame itself is #sources² — driver-trivial. */
  def sourceOverlapMatrix(documents: DataFrame): DataFrame = {
    val srcFp = documents
      .select(col("source"), fingerprint(col("text")).as("fp"))
      .distinct()
    val perSource = srcFp.groupBy("source").agg(count(lit(1)).as("n_fp"))
    val shared = srcFp.as("a")
      .join(srcFp.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    val pairs = perSource.select(col("source").as("source_a"), col("n_fp").as("n_a"))
      .crossJoin(perSource.select(col("source").as("source_b"), col("n_fp").as("n_b")))
      .filter(col("source_a") < col("source_b"))
    pairs
      .join(shared, Seq("source_a", "source_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .select(
        col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("n_shared"),
        round(col("n_shared").cast("double")
          / (col("n_a") + col("n_b") - col("n_shared")), 4).as("fp_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** q295: Jensen–Shannon divergence of each source's token
    * distribution from the corpus-wide distribution — the symmetric,
    * bounded (≤1 bit) drift measure for corpus mixing: a source with
    * high JS is lexically unlike the blend it feeds, which moves
    * mixture weights (q72) and flags ingest regressions the length-only
    * drift screens (q161) miss.
    *
    * Scale: token counts collapse to the (source, token) frame —
    * vocab-bounded, never document-bounded — and the divergence is
    * computed SPARSELY: only terms PRESENT in the source are
    * enumerated, because for an absent term (P = 0) the mid-point is
    * M = Q/2, so its Q-side contribution collapses to Q·ln 2 and the
    * whole zero-count tail is the closed form ln 2·(1 − Σ_present Q) —
    * no dense sources × vocab frame, no cartesian join. ln 2 is the
    * shared hardcoded literal. */
  def jsDivergence(documents: DataFrame): DataFrame = {
    val ln2 = 0.6931471805599453
    val cst = documents
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
    val ts = cst.groupBy("source").agg(sum("c").as("ts"))
    val ct = cst.groupBy("t").agg(sum("c").as("ct"))
    val tot = cst.agg(sum("c").as("tt"))
    val sparse = cst
      .join(ct, "t") // vocab-keyed equi join
      .join(broadcast(ts), "source")
      .crossJoin(broadcast(tot)) // 1-row scalar
    val p = col("c") / col("ts")
    val q = col("ct") / col("tt")
    val mm = (p + q) / lit(2.0)
    sparse
      .withColumn("term", p * log(p / mm) + q * log(q / mm))
      .withColumn("q", q)
      .groupBy("source")
      .agg(
        max("ts").as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum("term").as("s"),
        sum("q").as("qp"))
      .select(
        col("source"), col("n_tokens"), col("vocab_size"),
        round(lit(0.5) * col("s") / lit(ln2) + lit(0.5) * (lit(1.0) - col("qp")), 4)
          .as("js_bits"))
      .orderBy("source")
  }

  /** q296: per-source data card — the one-row-per-source corpus
    * composition summary every training-data readme publishes: volume
    * (docs, chars, whitespace tokens), language mix (count, dominant
    * language and its share), and the exact-duplicate rate from q33's
    * fingerprint. One fact scan feeds three bounded aggregates; the
    * dominant language is a #langs-bounded window rank. */
  def sourceDataCard(documents: DataFrame): DataFrame = {
    val base = documents.select(
      col("source"), col("lang"), col("n_chars"),
      size(tokens(col("text"))).cast("long").as("n_tok"),
      fingerprint(col("text")).as("fp"))
    val vol = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_chars").as("total_chars"),
      round(avg("n_chars"), 4).as("avg_chars"),
      sum("n_tok").as("total_tokens"),
      countDistinct("lang").as("n_langs"),
      countDistinct("fp").as("n_distinct_fp"))
    val wl = Window.partitionBy("source").orderBy(col("n").desc, col("lang"))
    val topLang = base.groupBy("source", "lang").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(wl))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("n").as("top_n"))
    vol.join(broadcast(topLang), "source")
      .select(
        col("source"), col("n_docs"), col("total_chars"), col("avg_chars"),
        col("total_tokens"), col("n_langs"), col("top_lang"),
        round(col("top_n").cast("double") / col("n_docs"), 4).as("top_lang_share"),
        round(lit(1.0) - col("n_distinct_fp").cast("double") / col("n_docs"), 4)
          .as("dup_rate"))
      .orderBy("source")
  }
  /** q334: TEMPERATURE-based mixture sampling plan — the multilingual /
    * multi-source training recipe (mBERT/XLM style): raw proportional
    * sampling lets the biggest source drown the tail, uniform sampling
    * over-trains tiny sources; sampling ∝ n^τ (τ=0.5 here — sqrt in
    * BOTH engines rather than pow(x, .5), whose libm paths differ)
    * up-weights the tail smoothly. Per source: raw share, tempered
    * share, planned tokens for the budget, and the implied epoch count
    * (planned/n — >1 means the source repeats).
    *
    * Scale shape: one fact-proportional token-count aggregate down to
    * the #sources frame, 1-row broadcast totals, then pure algebra —
    * the plan itself is catalog-sized. */
  def temperatureMixturePlan(
      documents: DataFrame,
      budgetTokens: Long = 100000L): DataFrame = {
    val perSource = documents
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(sum(col("n_tok")).as("n_tok"), count(lit(1)).as("n_docs"))
    val tot = perSource.agg(
      sum(col("n_tok")).as("tot_tok"),
      sum(sqrt(col("n_tok").cast("double"))).as("tot_w"))
    perSource
      .crossJoin(broadcast(tot))
      .withColumn("w", sqrt(col("n_tok").cast("double")) / col("tot_w"))
      .select(
        col("source"), col("n_docs"), col("n_tok"),
        round(col("n_tok") / col("tot_tok").cast("double"), 4).as("raw_share"),
        round(col("w"), 4).as("temp_share"),
        round(col("w") * lit(budgetTokens.toDouble), 4).as("planned_tokens"),
        round(col("w") * lit(budgetTokens.toDouble) / col("n_tok"), 4).as("epochs"))
      .orderBy("source")
  }

  /** q344: cross-source DUPLICATION matrix — which sources copy from
    * which (q294 measures vocabulary overlap; this counts EXACT shared
    * documents, the dedup-policy question): per unordered source pair,
    * the number of q33 content fingerprints present in BOTH, plus each
    * side's share of its own distinct fingerprints — asymmetric shares
    * tell "mirror" (both high) from "aggregator scraping a corner of a
    * big source" (one high, one low).
    *
    * Scale shape: (source, fp) distinct is one fact-proportional
    * aggregate; the pair join is fp-keyed (fan-out = sources sharing a
    * fingerprint — boilerplate-bounded, the q56 cap argument); the
    * report lands on the #sources² frame. */
  def crossSourceDupMatrix(documents: DataFrame): DataFrame = {
    val fps = documents
      .select(col("source"), fingerprint(col("text")).as("fp"))
      .distinct()
    val perSource = fps.groupBy("source").agg(count(lit(1)).as("n_fps"))
    val shared = fps.as("a")
      .join(fps.as("b"), col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    // zero-filled pair grid (q316 discipline): "no sharing" is a finding,
    // and the report shape stays stable at every corpus scale
    val srcs = perSource.select(col("source"))
    val grid = srcs.as("x").crossJoin(srcs.as("y"))
      .filter(col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"))
    grid
      .join(shared, Seq("source_a", "source_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .join(broadcast(perSource.select(col("source").as("source_a"), col("n_fps").as("na"))),
        "source_a")
      .join(broadcast(perSource.select(col("source").as("source_b"), col("n_fps").as("nb"))),
        "source_b")
      .select(
        col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared") / col("na").cast("double"), 4).as("share_of_a"),
        round(col("n_shared") / col("nb").cast("double"), 4).as("share_of_b"))
      .orderBy("source_a", "source_b")
  }

  /** q362: CAPTURE–RECAPTURE estimate of the true duplicate population —
    * the dedup-QA question no single detector answers: "how many dups
    * does our pipeline MISS". Two independent detectors (head-of-doc
    * fingerprint vs tail-of-doc fingerprint — genuinely different
    * views: neither is a refinement of the other, unlike raw-vs-
    * normalized where one set nests in the other and the estimator
    * degenerates) each flag their duplicate docs (non-first member of
    * a fingerprint group, doc_id order); the Chapman estimator
    * N̂ = (nA+1)(nB+1)/(m+1) − 1 over the overlap m sizes the total
    * duplicate population, and each detector's coverage = n/N̂.
    *
    * Honesty note: Chapman assumes the detectors capture independently.
    * On short documents (len < window) head and tail views coincide, so
    * the views correlate and N̂ biases toward |A∪B| — a LOWER bound on
    * the real population. Production picks structurally independent
    * detectors (e.g. MinHash vs SimHash); the estimator and report
    * shape are what this operator contributes.
    *
    * Scale shape: two fp equi-aggregates (never all-pairs), one
    * doc-grain join on doc_id for the overlap, a 1-row report. */
  def dedupCoverageEstimate(documents: DataFrame, window: Int = 256): DataFrame = {
    def flagged(fp: org.apache.spark.sql.Column, name: String): DataFrame =
      documents.select(col("doc_id"), fp.as("fp"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("fp").orderBy("doc_id")))
        .filter(col("rn") > 1)
        .select(col("doc_id").as(name))
    val a = flagged(md5(substring(col("text"), 1, window)), "a_id")
    val b = flagged(md5(substring(col("text"), -window, window)), "b_id")
    val na = a.agg(count(lit(1)).as("n_a"))
    val nb = b.agg(count(lit(1)).as("n_b"))
    val m = a.join(b, col("a_id") === col("b_id")).agg(count(lit(1)).as("n_both"))
    na.crossJoin(broadcast(nb)).crossJoin(broadcast(m)) // 1-row scalars
      .withColumn("est",
        (col("n_a") + 1) * (col("n_b") + 1) / (col("n_both") + lit(1.0)) - 1)
      .select(
        col("n_a"), col("n_b"), col("n_both"),
        round(col("est"), 4).as("est_total_dups"),
        round(when(col("est") <= 0.0, lit(null)).otherwise(col("n_a") / col("est")), 4)
          .as("coverage_a"),
        round(when(col("est") <= 0.0, lit(null)).otherwise(col("n_b") / col("est")), 4)
          .as("coverage_b"))
  }

  /** q359: TOKEN-FREQUENCY DRIFT between two corpus versions — "which
    * tokens' rates shifted significantly between crawls", the
    * vocabulary-level companion of q240's binned PSI and q161's length
    * drift (a new boilerplate source, a scraper regression, or a
    * domain-mix change shows up here first, named by token). Split =
    * doc_id parity (the standard A/B stand-in on one table; production
    * passes two snapshots). Per token: occurrence counts vs each side's
    * total token mass, the 2×2 chi-square in closed form (sparse-safe —
    * no dense vocab grid, the q295 discipline), and a ±0.5-smoothed
    * log2 rate ratio for direction. Ranked by the ROUNDED statistic
    * with a token tie-break so the top-N cut is engine-stable.
    *
    * Scale shape: explode → map-side-combinable (token) count — one
    * shuffle on token; the min-count filter prunes the hapax tail
    * BEFORE the stats; top-N is a bounded sort. */
  def tokenDrift(documents: DataFrame, minCount: Long = 20, topN: Int = 50): DataFrame = {
    val tok = documents.select(
      (pmod(col("doc_id"), lit(2)) === 0).as("in_a"),
      explode(tokens(col("text"))).as("token"))
    val counts = tok.groupBy("token")
      .agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("cnt_b"))
    tokenDriftFromCounts(counts, minCount, topN)
  }

  /** The q359 kernel over PRE-AGGREGATED token-grain counts
    * (token, cnt_a, cnt_b), fed by the batch parity split above.
    * Totals are taken over the UNFILTERED counts (token mass, not
    * surviving-token mass). */
  private[graft] def tokenDriftFromCounts(
      tokenCounts: DataFrame, minCount: Long, topN: Int): DataFrame = {
    val counts = tokenCounts.filter(col("cnt_a") + col("cnt_b") >= minCount)
    val totals = tokenCounts.agg(
      sum(col("cnt_a")).as("na"),
      sum(col("cnt_b")).as("nb"))
    counts
      .crossJoin(broadcast(totals)) // 1-row scalar
      .withColumn("chi2_raw", {
        // 2×2 chi-square closed form over (a, Na−a, b, Nb−b)
        val a = col("cnt_a").cast("double"); val b = col("cnt_b").cast("double")
        val na = col("na").cast("double"); val nb = col("nb").cast("double")
        val num = (a * (nb - b) - b * (na - a)); val tot = na + nb
        when(col("na") === 0 || col("nb") === 0, lit(null))
          .otherwise(num * num * tot /
            (na * nb * (a + b) * (tot - a - b)))
      })
      .withColumn("chi2", round(col("chi2_raw"), 4))
      .select(
        col("token"), col("cnt_a"), col("cnt_b"),
        round(col("cnt_a") / col("na").cast("double"), 6).as("rate_a"),
        round(col("cnt_b") / col("nb").cast("double"), 6).as("rate_b"),
        round(log2(((col("cnt_a") + 0.5) / col("na")) / ((col("cnt_b") + 0.5) / col("nb"))), 4)
          .as("log2_ratio"),
        col("chi2"))
      .orderBy(desc("chi2"), asc("token"))
      .limit(topN)
  }

  /** q370: Hill estimator of the token-frequency tail exponent — the
    * principled MLE cousin of the q117 Zipf regression (which fits the
    * whole head; Hill fits only the upper order statistics, the part
    * that matters for heavy-tail capacity planning). Per language:
    * 1/α̂ = (1/k)·Σ_{i≤k} ln(n_(i)/n_(k+1)) over the top-k token
    * frequencies. The top-(k+1) selection is the q117 rank-limit window
    * (Partial+Final WindowGroupLimit — bounded pre-shuffle heaps over
    * the vocab-sized TF table), and the k+1-th frequency attaches back
    * by a per-lang equi-join, ≤#langs rows broadcast. */
  def hillTailExponent(documents: DataFrame, k: Int = 10): DataFrame = {
    val tf = documents
      .select(col("lang"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy(desc("n"), asc("tok"))
    val top = tf
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k + 1)
    val ref = top.filter(col("rk") === k + 1).select(col("lang"), col("n").as("nk1"))
    top.filter(col("rk") <= k)
      .join(broadcast(ref), "lang")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("k_used"),
        avg(log(col("n").cast("double") / col("nk1"))).as("h"))
      .select(
        col("lang"), col("k_used"),
        round(col("h"), 4).as("hill_mean_log"),
        // h = 0 ⇔ the whole top-k ties with n_(k+1): no tail decay to
        // estimate (ANSI-safe: the untaken branch never divides)
        round(when(col("h") =!= 0.0, lit(1.0) / col("h")), 4).as("alpha_tail"))
      .orderBy("lang")
  }

  /** q371: vocabulary richness per language — bias-corrected Chao1
    * ("how many token types exist that this corpus has NOT seen yet")
    * and Good's coverage estimate (1 − f₁/N, the probability mass of
    * already-seen types). Pure group-bys over the TF table: f₁/f₂ are
    * singleton/doubleton type counts. The bias-corrected form
    * V + f₁(f₁−1)/(2(f₂+1)) is total (defined at f₂ = 0). */
  def vocabRichness(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
      .groupBy("lang")
      .agg(
        sum("n").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("n") === 2, 1L).otherwise(0L)).as("f2"))
      .select(
        col("lang"), col("n_tokens"), col("vocab"), col("f1"), col("f2"),
        round(col("vocab")
          + col("f1") * (col("f1") - 1) / (lit(2.0) * (col("f2") + 1)), 4).as("chao1"),
        round(lit(1.0) - col("f1") / col("n_tokens").cast("double"), 4).as("coverage"))
      .orderBy("lang")

  /** q372: Good–Turing counts-of-counts — the smoothing table behind
    * every n-gram LM (q71): for each of the lowest maxR occupied raw
    * counts r, how many token types occur exactly r times (N_r), the
    * adjusted count
    * r_star = (r+1)·N_{r+1}/N_r, and its probability p_GT = r_star/N. The
    * r→r+1 lookup is a self-join of the ≤maxR-row counts-of-counts
    * aggregate — broadcast arithmetic, no window. */
  def goodTuring(documents: DataFrame, maxR: Int = 10): DataFrame = {
    val tf = documents
      .select(explode(tokens(lower(col("text")))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val cc = tf.groupBy(col("n").as("r")).agg(count(lit(1)).as("n_r"))
    val tot = tf.agg(sum("n").as("big_n"))
    // the LOWEST maxR occupied counts — in a natural corpus that IS
    // r = 1..maxR (singletons exist); a high-floor synthetic spectrum
    // still reports its low-frequency end instead of an empty table
    cc.orderBy("r").limit(maxR)
      .join(broadcast(cc.select((col("r") - 1).as("rm"), col("n_r").as("n_r_next"))),
        col("r") === col("rm"), "left")
      .crossJoin(broadcast(tot)) // 1-row scalar
      .select(
        col("r"), col("n_r"),
        coalesce(col("n_r_next"), lit(0L)).as("n_r_next"),
        round((col("r") + 1) * coalesce(col("n_r_next"), lit(0L))
          / col("n_r").cast("double"), 4).as("r_star"),
        round((col("r") + 1) * coalesce(col("n_r_next"), lit(0L))
          / col("n_r").cast("double") / col("big_n"), 8).as("p_gt"))
      .orderBy("r")
  }

  /** q373: pairwise source-distribution distance — Bhattacharyya
    * coefficient BC = Σ√(p·q) over the two sources' token
    * distributions, with Hellinger = √(1−BC) and the Bhattacharyya
    * distance −ln BC. Only SHARED tokens contribute to BC, so the join
    * is a sparse inner equi-join on token (each token expands to at
    * most #sources² pairs — organizationally bounded, like q295's
    * sparse JS divergence; no dense vocab grid). */
  def sourceHellinger(documents: DataFrame): DataFrame = {
    val tf = documents
      .select(col("source"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("n"))
    val tot = tf.groupBy("source").agg(sum("n").as("tot"))
    val p = tf.join(broadcast(tot), "source")
      .select(col("source"), col("tok"), (col("n") / col("tot")).as("p"))
    p.as("a")
      .join(p.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(
        count(lit(1)).as("common_vocab"),
        sum(sqrt(col("a.p") * col("b.p"))).as("bc"))
      .select(
        col("src_a"), col("src_b"), col("common_vocab"),
        round(col("bc"), 4).as("bc"),
        round(sqrt(greatest(lit(0.0), lit(1.0) - col("bc"))), 4).as("hellinger"),
        round(-log(col("bc")), 4).as("bhattacharyya"))
      .orderBy("src_a", "src_b")
  }

  /** q374: Cohen's κ between two deterministic quality labelers — the
    * inter-annotator-agreement primitive every labeling pipeline needs
    * before trusting a rater pool. Labeler A flags on the stored char
    * count, labeler B on the live token count; κ = (p_o − p_e)/(1 − p_e)
    * from the one-pass 2×2 contingency aggregate. */
  def labelerKappa(
      documents: DataFrame,
      lenThresh: Int = 400,
      tokThresh: Int = 60): DataFrame =
    kappaFromCells(labelerCells(documents, lenThresh, tokThresh))

  /** One 2×2 contingency slice — four ADDITIVE long cells, so
    * slices of the corpus sum to exactly the full-corpus contingency. */
  private[graft] def labelerCells(
      documents: DataFrame,
      lenThresh: Int = 400,
      tokThresh: Int = 60): DataFrame =
    documents
      .select(
        (col("n_chars") >= lenThresh).as("a"),
        (size(tokens(col("text"))) >= tokThresh).as("b"))
      .agg(
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n_both"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n_a_only"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n_b_only"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n_neither"))

  /** κ from (possibly many) contingency slices — the q374 kernel: sum
    * the cells, then the po/pe/κ arithmetic. */
  private[graft] def kappaFromCells(cells: DataFrame): DataFrame =
    cells
      .agg(
        sum("n_both").as("n_both"), sum("n_a_only").as("n_a_only"),
        sum("n_b_only").as("n_b_only"), sum("n_neither").as("n_neither"))
      .withColumn("n_docs",
        col("n_both") + col("n_a_only") + col("n_b_only") + col("n_neither"))
      .withColumn("po", (col("n_both") + col("n_neither")) / col("n_docs").cast("double"))
      .withColumn("pe",
        ((col("n_both") + col("n_a_only")) * (col("n_both") + col("n_b_only"))
          + (col("n_b_only") + col("n_neither")) * (col("n_a_only") + col("n_neither")))
          / (col("n_docs").cast("double") * col("n_docs")))
      .select(
        col("n_docs"), col("n_both"), col("n_a_only"), col("n_b_only"), col("n_neither"),
        round(col("po"), 4).as("p_observed"),
        round(col("pe"), 4).as("p_expected"),
        // pe = 1 ⇔ a degenerate single-cell corpus: κ undefined
        round(when(col("pe") < 1.0, (col("po") - col("pe")) / (lit(1.0) - col("pe"))), 4)
          .as("kappa"))

  /** q380: McNemar's test on the q374 labeler pair — the PAIRED
    * question κ doesn't answer: is one labeler systematically stricter
    * than the other? Only the discordant cells matter:
    * χ² = (n₁₀ − n₀₁)²/(n₁₀ + n₀₁), reported with the
    * continuity-corrected variant; zero discordance → null (no test).
    * Same one-pass 2×2 contingency aggregate as q374. */
  def mcnemar(
      documents: DataFrame,
      lenThresh: Int = 400,
      tokThresh: Int = 60): DataFrame =
    documents
      .select(
        (col("n_chars") >= lenThresh).as("a"),
        (size(tokens(col("text"))) >= tokThresh).as("b"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n_a_only"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n_b_only"))
      .withColumn("disc", col("n_a_only") + col("n_b_only"))
      .select(
        col("n_docs"), col("n_a_only"), col("n_b_only"),
        round(when(col("disc") > 0,
          (col("n_a_only") - col("n_b_only")).cast("double")
            * (col("n_a_only") - col("n_b_only")) / col("disc")), 4).as("chi2"),
        round(when(col("disc") > 0,
          greatest(lit(0L), abs(col("n_a_only") - col("n_b_only")) - 1)
            * greatest(lit(0L), abs(col("n_a_only") - col("n_b_only")) - 1)
            / col("disc").cast("double")), 4).as("chi2_corrected"))

  /** q388: Cochran's Q across THREE deterministic quality raters — the
    * k-rater extension of q380's McNemar pair (do the raters flag the
    * same share of docs?): char-count, token-count and vowel-share
    * raters; Q = (k−1)(kΣC_j² − N²)/(kN − ΣR_i²) with column totals
    * C_j, per-doc row sums R_i, N = ΣR_i. One map pass + one scalar
    * aggregate; an all-unanimous corpus (every R_i ∈ {0,k}) has zero
    * denominator → null (guarded). */
  def cochranQ(
      documents: DataFrame,
      lenThresh: Int = 400,
      tokThresh: Int = 60,
      vowelShare: Double = 0.285): DataFrame = {
    val flags = documents
      .filter(col("n_chars") > 0)
      .select(
        (col("n_chars") >= lenThresh).cast("long").as("a"),
        (size(tokens(col("text"))) >= tokThresh).cast("long").as("b"),
        (size(regexp_extract_all(lower(col("text")), lit("[aeiou]"), lit(0)))
          / col("n_chars").cast("double") >= vowelShare).cast("long").as("c"))
      .withColumn("r", col("a") + col("b") + col("c"))
    flags
      .agg(
        count(lit(1)).as("n_docs"),
        sum("a").as("c_a"), sum("b").as("c_b"), sum("c").as("c_c"),
        sum(col("r") * col("r")).as("sr2"))
      .withColumn("nn", col("c_a") + col("c_b") + col("c_c"))
      .select(
        col("n_docs"), col("c_a"), col("c_b"), col("c_c"),
        round(when(lit(3L) * col("nn") - col("sr2") > 0,
          lit(2.0) * (lit(3L) * (col("c_a") * col("c_a") + col("c_b") * col("c_b")
            + col("c_c") * col("c_c")) - col("nn") * col("nn"))
            / (lit(3L) * col("nn") - col("sr2"))), 4).as("q_stat"))
  }

  /** q378: readability profile per language — Flesch reading ease and
    * Flesch–Kincaid grade from three regex counters (alphabetic words,
    * vowel-group syllable proxy, sentence-terminator runs; the corpus
    * may lack terminators entirely, so sentences floor at 1 per doc).
    * Pure per-row map work + one ≤#langs aggregate — the linear-scan
    * shape that scales to 100 TB unchanged. */
  def readability(documents: DataFrame): DataFrame = {
    val w = size(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
      .cast("double")
    val syl = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
      .cast("double")
    val st = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1))
      .cast("double")
    documents
      .select(col("lang"), w.as("w"), syl.as("s"), st.as("st"))
      .filter(col("w") > 0)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("w") / col("st")), 4).as("words_per_sentence"),
        round(avg(col("s") / col("w")), 4).as("syllables_per_word"),
        round(avg(lit(206.835) - lit(1.015) * col("w") / col("st")
          - lit(84.6) * (col("s") / col("w"))), 4).as("flesch_ease"),
        round(avg(lit(0.39) * col("w") / col("st")
          + lit(11.8) * col("s") / col("w") - lit(15.59)), 4).as("fk_grade"))
      .orderBy("lang")
  }

  /** q406: corpus NOVELTY CURVE — "is the next slice of the crawl
    * still adding new content": documents bucket into `nBins` ingestion
    * bins by doc_id (ingestion order), each exact fingerprint (q33)
    * attributes to the bin of its FIRST occurrence, and the per-bin
    * report reads novelty share (docs carrying a first-seen fp / docs
    * in bin) plus the cumulative distinct-content share. The marginal
    * value of continued crawling IS this curve's tail — flat ≈ 1 means
    * keep crawling, a sagging tail quantifies the dedup tax before any
    * expensive near-dup pass runs. Scale shape: binning is a map-side
    * expression off a 1-row max(doc_id) broadcast, first-seen is the
    * q33 fp groupBy, the report frame is nBins rows. */
  def noveltyCurve(documents: DataFrame, nBins: Int = 10): DataFrame = {
    import graft.functions.TextFunctions.fingerprint
    val span = documents.agg((max("doc_id") + 1).as("span"))
    val binned = documents
      .crossJoin(broadcast(span)) // 1-row scalar
      .select(col("doc_id"), fingerprint(col("text")).as("fp"),
        floor(col("doc_id") * nBins / col("span")).as("bin"))
    val firstSeen = binned.groupBy("fp").agg(min("bin").as("first_bin"))
    val perBin = binned.groupBy("bin").agg(count(lit(1)).as("n_docs"))
    val newPerBin = firstSeen.groupBy(col("first_bin").as("bin"))
      .agg(count(lit(1)).as("n_new_fp"))
    val wCum = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow) // ≤nBins rows
    perBin.join(newPerBin, Seq("bin"), "left")
      .select(col("bin"), col("n_docs"),
        coalesce(col("n_new_fp"), lit(0L)).as("n_new_fp"))
      .withColumn("novelty_share",
        round(col("n_new_fp") / col("n_docs").cast("double"), 4))
      .withColumn("cum_distinct",
        sum("n_new_fp").over(wCum))
      .withColumn("cum_docs", sum("n_docs").over(wCum))
      .select(col("bin"), col("n_docs"), col("n_new_fp"), col("novelty_share"),
        round(col("cum_distinct") / col("cum_docs").cast("double"), 4)
          .as("cum_distinct_share"))
      .orderBy("bin")
  }

  /** q407: COMPRESSION-RATIO quality filter — the classic cheap
    * information-density screen (boilerplate, templated spam and
    * degenerate repetition compress far below natural prose; pure
    * noise barely compresses at all): per document, deflate the
    * normalized utf-8 bytes (java.util.zip, level 6 — deterministic)
    * and read bits-per-byte; the per-source report carries the mass in
    * each regime. Rows-only by nature (no SQL deflate) — the spec pins
    * ground truth (repetition ≪ prose < noise). Scale shape:
    * per-partition CPU kernel (one Deflater per partition, reused),
    * then a sources-bounded aggregate; nothing shuffles but the
    * per-doc scalar row. */
  def compressionQuality(
      documents: DataFrame,
      minRatio: Double = 2.0,
      maxRatio: Double = 7.0): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val perDoc = documents
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.normalized(col("text")).as("t"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, src, t) =>
          val in = t.getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(in)
          deflater.finish()
          var out = 0
          while (!deflater.finished()) out += deflater.deflate(buf)
          val ratio =
            if (out == 0) 0.0
            else math.floor(in.length.toDouble / out * 10000 + 0.5) / 10000
          (id, src, in.length.toLong, out.toLong, ratio)
        }
      }
      .toDF("doc_id", "source", "raw_bytes", "deflated_bytes", "ratio")
    perDoc
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("ratio"), 4).as("avg_ratio"),
        sum(when(col("ratio") < minRatio, 1L).otherwise(0L)).as("n_low_info"),
        sum(when(col("ratio") > maxRatio, 1L).otherwise(0L)).as("n_degenerate"))
      .withColumn("keep_share",
        round((col("n_docs") - col("n_low_info") - col("n_degenerate"))
          / col("n_docs").cast("double"), 4))
      .orderBy("source")
  }

  /** q410: BURROWS' DELTA stylometric distance between sources — the
    * standard authorship/style measure (z-scored relative frequencies
    * of the corpus's top-V tokens, δ(a,b) = mean |z_a − z_b|): which
    * sources write alike, the style-level companion to q295's lexical
    * JS divergence (JS sees WHAT words, delta sees HOW MUCH each
    * source over/under-uses the COMMON words). Shape: one tf scan, the
    * top-V vocabulary is a TakeOrdered broadcast, the z frame is the
    * bounded sources×V grid (densified — an absent common word IS a
    * style signal, z from a zero frequency), pair deltas from a
    * tok-keyed self-join of the grid (≤ sources²·V rows, all
    * catalog-bounded). Degenerate tokens (σ = 0 across sources)
    * contribute 0 to every pair by convention. */
  def burrowsDelta(documents: DataFrame, vocabV: Int = 50): DataFrame = {
    val tf = documents
      .select(col("source"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val srcTotals = tf.groupBy("source").agg(sum("c").as("n"))
    val topV = tf.groupBy("tok").agg(sum("c").as("ctot"))
      .orderBy(desc("ctot"), asc("tok")).limit(vocabV)
      .select("tok")
    val grid = srcTotals
      .crossJoin(broadcast(topV)) // bounded sources×V grid (q294 idiom)
      .join(tf, Seq("source", "tok"), "left")
      .select(col("source"), col("tok"),
        (coalesce(col("c"), lit(0L)) / col("n").cast("double")).as("f"))
    val stats = grid.groupBy("tok")
      .agg(avg("f").as("mu"), stddev_samp(col("f")).as("sd"))
    val z = grid.join(broadcast(stats), Seq("tok"))
      .select(col("source"), col("tok"),
        when(col("sd") > 0.0, (col("f") - col("mu")) / col("sd"))
          .otherwise(lit(0.0)).as("z"))
    z.as("a")
      .join(z.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(
        count(lit(1)).as("n_terms"),
        round(avg(abs(col("a.z") - col("b.z"))), 4).as("delta"))
      .orderBy("source_a", "source_b")
  }

  /** q413: CHUNKED TYPE-TOKEN RATIO per source — the classic lexical-
    * diversity screen a curation pipeline runs beside q31's surface
    * ratios (raw TTR is length-confounded: longer texts repeat more, so
    * TTR is comparable only at a FIXED window; chunking at `chunk`
    * tokens is the standard fix — the STTR convention). Per doc:
    * position-chunked token windows, FULL chunks only; per source: the
    * chunk count, mean and min chunk TTR (min catches the template
    * block a mean would launder). One posexplode + two aggregates,
    * all shuffles keyed on (doc, chunk) then source — map-side
    * combinable, data-proportional at any corpus size. */
  def chunkTtr(documents: DataFrame, chunk: Int = 50): DataFrame = {
    val toks = documents
      .select(col("doc_id"), col("source"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("ck", floor(col("pos") / chunk))
    toks
      .groupBy("doc_id", "source", "ck")
      .agg(countDistinct("tok").as("n_types"), count(lit(1)).as("n_toks"))
      .filter(col("n_toks") === chunk) // partial tail chunks bias TTR up
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_chunks"),
        round(avg(col("n_types") / col("n_toks").cast("double")), 4).as("avg_ttr"),
        round(min(col("n_types") / col("n_toks").cast("double")), 4).as("min_ttr"))
      .orderBy("source")
  }

  /** q442: CHUNK-level dedup audit — dedup at the granularity RAG and
    * training-sequence pipelines actually consume: q75's token-window
    * chunks fingerprinted, then per source the share of chunk
    * occurrences that are redundant (same md5 appears elsewhere) and
    * the share duplicated ACROSS documents (the retrieval poison:
    * near-identical passages from different docs crowd a result list).
    * Doc-level dedup (q33) misses both — two distinct docs can still
    * share most of their chunks. One chunk fingerprint groupBy joined
    * back on md5 (data-proportional), then a #sources aggregate. */
  def chunkDedupAudit(
      documents: DataFrame,
      window: Int = 64,
      stride: Int = 48): DataFrame = {
    val chunks = chunkDocuments(documents, window, stride)
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
    val fpStats = chunks
      .groupBy("chunk_md5")
      .agg(count(lit(1)).as("fp_n"), countDistinct(col("doc_id")).as("fp_docs"))
    chunks
      .join(fpStats, "chunk_md5")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk_md5")).as("n_distinct"),
        sum(when(col("fp_n") > 1, 1L).otherwise(0L)).as("n_dup_occ"),
        sum(when(col("fp_docs") > 1, 1L).otherwise(0L)).as("n_cross_doc_occ"))
      .select(
        col("source"), col("n_chunks"), col("n_distinct"),
        round(col("n_dup_occ").cast("double") / col("n_chunks"), 4).as("dup_share"),
        round(col("n_cross_doc_occ").cast("double") / col("n_chunks"), 4)
          .as("cross_doc_share"))
      .orderBy("source")
  }

  /** q443: dedup MIXTURE-SHIFT audit — what exact dedup does to the
    * source mixture: keep-one-per-fingerprint (q33's rule) removes more
    * from duplication-heavy sources, silently re-weighting the corpus a
    * curated mixture (q72/q334) was tuned on. Per source: docs and
    * corpus share before vs after, and the share delta in percentage
    * points — the number a mixture owner has to re-solve against.
    * One fp-grain min, one source aggregate, 1-row total scalars. */
  def dedupMixtureShift(documents: DataFrame): DataFrame = {
    val keepers = documents
      .select(col("doc_id"), col("source"), fingerprint(col("text")).as("fp"))
      .withColumn("keep", min("doc_id").over(Window.partitionBy("fp")))
      .withColumn("kept", (col("doc_id") === col("keep")).cast("long"))
    val bySource = keepers
      .groupBy("source")
      .agg(count(lit(1)).as("n_before"), sum("kept").as("n_after"))
    val tot = bySource.agg(
      sum("n_before").as("tot_before"), sum("n_after").as("tot_after"))
    val shareBefore = col("n_before").cast("double") / col("tot_before")
    val shareAfter = col("n_after").cast("double") / col("tot_after")
    bySource
      .crossJoin(broadcast(tot))
      .select(
        col("source"), col("n_before"), col("n_after"),
        round(shareBefore, 4).as("share_before"),
        round(shareAfter, 4).as("share_after"),
        round((shareAfter - shareBefore) * 100, 4).as("delta_pp"))
      .orderBy("source")
  }
}
