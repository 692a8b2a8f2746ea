package graft.text

import graft.core.Num
import graft.core.Num.r4
import graft.functions.TextKernel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data pipelines: language ID, quality
  * scoring, token counting, fingerprinting. All column expressions or
  * map-side-combined aggregates (embarrassingly parallel — zero shuffle
  * for the per-document operators at any scale). Quality, language ID,
  * token counts and k-shingles are thin wrappers over
  * [[graft.functions.TextKernel]], which reads each document once; the
  * arithmetic on its counts stays in Spark expressions, so every output
  * bit matches the DuckDB oracles.
  *
  * Tokenization contract shared with the DuckDB oracles: tokens are the
  * single-space split of `text`; word k-shingles join tokens with '_'.
  */
object TextOps {
  def tokens(text: Column): Column = split(text, " ")

  /** Word k-gram shingles: ["a b c d"] -> k=3 -> ["a_b_c", "b_c_d"]; an
    * empty array for documents shorter than k tokens and for a null
    * array. One kernel loop per document, reading `toks` once, so callers
    * need not stage the token array (a set built from the result that is
    * read more than once still goes through [[graft.core.Barrier.once]]). */
  def shingles(toks: Column, k: Int): Column = TextKernel.shingles(toks, k)

  /** Shingle rows (id, extras..., sh): the k-gram ARRAY is assembled per
    * document straight off the token array ([[shingles]]) and exploded —
    * a pure codegen map, NO shuffle. (Until r17 this staged through a
    * per-token lead() window partitioned by doc — one full shuffle of
    * every token row that each of the 12 shingle consumers paid before
    * doing any real work; at 5M organic docs that window alone moved
    * ~4 GB per pass. Output rows are identical: n−k+1 '_'-joined grams
    * per document, none for docs shorter than k tokens.) */
  def explodedShingles(df: DataFrame, idc: Column, textNorm: Column, k: Int,
                       extra: Seq[(String, Column)] = Nil): DataFrame =
    df.select((idc.cast("long").as("doc") +: extra.map { case (n, c) => c.as(n) }) :+
      explode(shingles(tokens(textNorm), k)).as("sh"): _*)

  val EnStop: Seq[String] = TextKernel.EnStop
  val LangMarkers: Seq[(String, Seq[String])] = TextKernel.LangMarkers

  /** N-gram/stopword-profile language ID: score = marker-token count per
    * language; argmax with a fixed language-order tiebreak, `und` when no
    * marker occurs (null and empty text included). One kernel scan per
    * document, shared with any [[qualityScore]] in the same projection. */
  def langIdScore(text: Column): Column =
    coalesce(TextKernel.stats(text).getField("lang"), lit("und"))

  /** The quality terms over the kernel's counts. `alphaRatio` is null for
    * empty text and every term is null for null text. */
  private final class Quality(t: Column) {
    private val s = TextKernel.stats(t)
    private def count(f: String): Column = s.getField(f).cast("double")
    val nTok: Column = count("n_tokens")
    val nChars: Column = count("n_chars")
    val alphaRatio: Column = when(nChars > 0, count("n_alpha") / nChars)
    val uniq: Column = count("n_uniq")
    val stop: Column = count("n_stop")
    /** The composite in [0,1] on the 4-dp grid; null where a term is null
      * (`least` would otherwise read a null sum as 1.0). */
    val score: Column = {
      val q = (uniq / nTok) * 0.5 + alphaRatio * 0.3 + least(stop / nTok * 5.0, lit(1.0)) * 0.2
      when(q.isNotNull, r4(least(lit(1.0), q)))
    }
  }

  /** The composite quality score in [0,1] as a single codegen column —
    * usable inline in any projection (no join back to the feature frame
    * needed; dedup_keep_best composes it with the content hash in ONE
    * scan). Rounded to the 4-dp grid like the feature frame; null for null
    * or empty text. */
  def qualityScore(t: Column): Column = new Quality(t).score

  /** Heuristic quality features + a composite score in [0,1]. */
  def qualityFeatures(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val f = new Quality(col(textCol))
    df.select(
      col(idCol),
      f.nTok.cast("long").as("n_tokens"),
      r4(f.nChars / f.nTok).as("avg_token_len"),
      r4(f.alphaRatio).as("alpha_ratio"),
      r4(f.uniq / f.nTok).as("uniq_ratio"),
      r4(f.stop / f.nTok).as("stopword_ratio"),
      f.score.as("quality"))
  }

  /** Sequence packing — the training-sample assembly step: stream each
    * shard's documents in a deterministic order; a doc joins pack
    * ⌊exclusive-cumsum / budget⌋, so pack BOUNDARIES are fixed budget
    * multiples of the shard-global cumsum (docs never split, so a pack
    * can overshoot by at most one document). Non-resetting by design:
    * after an overshoot the excess carries into the next pack (which
    * undershoots by the same amount), and a single doc longer than the
    * budget can skip pack ids entirely — unlike a resetting greedy cut,
    * the scheme is a pure window expression (and any prefix of the shard
    * packs identically, so late-arriving docs never re-cut earlier
    * packs). Emits per-pack (shard, pack, n_docs, n_tokens, fill).
    *
    * Scale shape: packing is inherently order-dependent, so production
    * packs PER SHARD — the shard key is the only shuffle, and the cumsum
    * is one in-partition window pass. Integer token counts make every
    * pack boundary engine-identical for the oracle. */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
                    shardCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc"))
    df.select(col(shardCol).as("shard"), col(idCol).cast("long").as("doc"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("_cum", sum(col("n_tokens")).over(w))
      // pack id = completed budgets BEFORE this doc (exclusive cumsum)
      .withColumn("pack", floor((col("_cum") - col("n_tokens")) / budget.toDouble).cast("long"))
      .groupBy(col("shard"), col("pack"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        round(sum(col("n_tokens")) / lit(budget.toDouble), 4).as("fill"))
  }

  /** Token counting: whitespace tokens, distinct tokens and the BPE-ish
    * piece count (runs of letters / digits / single other chars — a
    * public-tokenizer-style pre-tokenization regex), from one kernel scan
    * per document; null counts for null text. */
  def tokenCounts(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val s = TextKernel.stats(col(textCol))
    df.select(
      col(idCol),
      s.getField("n_tokens").cast("long").as("ws_tokens"),
      s.getField("n_uniq").cast("long").as("uniq_tokens"),
      s.getField("n_pieces").cast("long").as("bpe_pieces"))
  }

  /** Gopher-style repetition metrics (Rae et al. 2021, "Scaling Language
    * Models" §A1.1 repeated-n-gram filters — public filter family used by
    * large-corpus pipelines): per document, the mass fraction of the
    * single most frequent 2-gram and the mass fraction of 3-grams that
    * occur more than once. Two (doc, shingle) map-side-combined
    * aggregates, shuffle key = doc id — linear at corpus scale. Docs too
    * short to have an n-gram report 0.0. */
  def repetitionFeatures(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    def frac(k: Int, top: Boolean): DataFrame = {
      val c = explodedShingles(df, col(idCol), col(textCol), k)
        .groupBy(col("doc"), col("sh")).agg(count(lit(1)).as("c"))
      if (top)
        c.groupBy(col("doc")).agg(
          (max(col("c")).cast("double") / sum(col("c")).cast("double")).as("v"))
      else
        c.groupBy(col("doc")).agg(
          (sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).cast("double") /
            sum(col("c")).cast("double")).as("v"))
    }
    df.select(col(idCol).cast("long").as("doc_id"))
      .join(frac(2, top = true).select(col("doc").as("doc_id"), col("v").as("t2")),
        Seq("doc_id"), "left")
      .join(frac(3, top = false).select(col("doc").as("doc_id"), col("v").as("d3")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        r4(coalesce(col("t2"), lit(0.0))).as("top2_frac"),
        r4(coalesce(col("d3"), lit(0.0))).as("dup3_frac"))
  }

  /** Gopher-style heuristic keep/drop filters (Rae et al. 2021 §A1.1),
    * thresholds adapted to the synthetic corpus: word count ∈ [10, 1000],
    * mean word length ∈ [2, 12], numeric-token fraction ≤ 0.3,
    * unique-token ratio ≥ 0.2. Pure codegen row expressions + ONE
    * aggregate — emits per-rule failure counts and the surviving-doc
    * count, the shape a pipeline dashboard reads. */
  def gopherFilters(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    df.select(gopherRules(col(textCol)).map { case (n, c) => c.as(n) }: _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("r_wc"), 0L).otherwise(1L)).as("fail_word_count"),
        sum(when(col("r_mwl"), 0L).otherwise(1L)).as("fail_mean_word_len"),
        sum(when(col("r_num"), 0L).otherwise(1L)).as("fail_numeric_frac"),
        sum(when(col("r_uniq"), 0L).otherwise(1L)).as("fail_uniq_ratio"),
        sum(when(col("r_wc") && col("r_mwl") && col("r_num") && col("r_uniq"), 1L)
          .otherwise(0L)).as("n_keep"))
  }

  /** The four keep/drop rule expressions behind [[gopherFilters]] and the
    * streaming quality gate — ONE definition so the batch composite and
    * the ingest-time filter can never drift apart. */
  private[graft] def gopherRules(t: Column): Seq[(String, Column)] = {
    val toks = tokens(t)
    val nw = size(toks).cast("double")
    val mwl = (length(t).cast("double") - (nw - lit(1.0))) / nw
    val numFrac = size(filter(toks, x => x.rlike("^[0-9]+$"))).cast("double") / nw
    val uniqR = size(array_distinct(toks)).cast("double") / nw
    Seq("r_wc" -> (nw >= 10.0 && nw <= 1000.0),
      "r_mwl" -> (mwl >= 2.0 && mwl <= 12.0),
      "r_num" -> (numFrac <= 0.3),
      "r_uniq" -> (uniqR >= 0.2))
  }

  /** Domain-mixing weights: given literal target shares T_k per key
    * (language/source), the retention-maximal feasible corpus size is
    * M = min_k n_k / T_k; each domain then contributes take_k = ⌊T_k·M⌋
    * at sampling rate take_k / n_k (compose with stratifiedSample's hash
    * threshold to materialize the mix). One groupBy + a broadcast scalar
    * — the per-domain quota computation behind every data-mixing recipe. */
  def mixWeights(df: DataFrame, keyCol: String,
                 targetShares: Seq[(String, Double)]): DataFrame = {
    val caseT = targetShares.foldRight(lit(null).cast("double")) {
      case ((k, v), acc) => when(col(keyCol) === k, lit(v)).otherwise(acc)
    }
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).cast("double").as("n"))
      .withColumn("target", caseT).filter(col("target").isNotNull)
    val m = counts.agg(min(col("n") / col("target")).as("m"))
    counts.crossJoin(broadcast(m))
      .select(col(keyCol),
        col("n").cast("long").as("n_docs"),
        col("target").as("target_share"),
        floor(col("target") * col("m")).cast("long").as("take_n"),
        Num.r6(floor(col("target") * col("m")) / col("n")).as("rate"))
  }

  // PII patterns kept in the Java∩RE2 common regex subset (character
  // classes, bounded quantifiers, \b) so the DuckDB oracle's RE2 engine
  // matches Spark's Java regex byte-for-byte on these shapes
  private[graft] val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private[graft] val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] val LongNumRe = "\\d{7,}"

  /** PII scrubbing — the redaction pass an LLM-data pipeline runs before
    * training: mask emails, IPv4 addresses, and long digit runs (phone/
    * account numbers) with typed placeholders. Pure codegen row
    * expressions (regexp_replace chain), zero shuffle — the 100 TB/day
    * map shape. Emits per-doc match counts (each pattern counted on the
    * RAW text) and the md5 of the masked text. */
  def piiMask(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val (nE, nI, nN, masked) = piiMaskExprs(col(textCol))
    df.select(col(idCol).cast("long").as("doc"),
      nE.as("n_emails"), nI.as("n_ips"), nN.as("n_nums"),
      md5(masked).as("masked_hash"))
  }

  /** The masking chain + match counts behind [[piiMask]] and the streaming
    * scrubber — ONE definition so batch and ingest-time redaction can
    * never drift. Returns (n_emails, n_ips, n_nums, masked_text). */
  private[graft] def piiMaskExprs(t: Column): (Column, Column, Column, Column) = {
    val masked = regexp_replace(regexp_replace(regexp_replace(t,
      EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), LongNumRe, "<NUM>")
    (regexp_count(t, lit(EmailRe)).cast("long"),
      regexp_count(t, lit(Ipv4Re)).cast("long"),
      regexp_count(t, lit(LongNumRe)).cast("long"),
      masked)
  }

  /** fastText-style hashed-n-gram linear scorer: every word unigram and
    * bigram of the normalized text hashes into one of `buckets` slots
    * (engine-neutral md5, so the DuckDB oracle reproduces the buckets
    * exactly), and the document score is σ(bias + Σ_gram w(bucket)).
    * `weightOf` maps a bucket-id column to its weight column — a literal
    * array lookup for a trained model (see the fit spec), or any closed
    * form. Pure codegen row expressions, zero shuffle — the inference
    * shape that runs over the full corpus at 100 TB.
    *
    * Staging: unigrams fold over ONE split() per row via transform;
    * bigrams pair the token array with its own 1-shifted slice via
    * zip_with (null-padded tail contributes 0) — never
    * element_at(split(...), i) per element, which re-tokenizes per gram
    * (the O(len²) trap). */
  def hashedNgramScore(df: DataFrame, textCol: String, idCol: String,
                       buckets: Int, weightOf: Column => Column,
                       bias: Double): DataFrame = {
    val staged = stagedNgramTokens(
      df.select(col(idCol).cast("long").as("doc"), col(textCol).as("_t")))
    val (nGrams, score) = hashedNgramScoreExprs(col("_toks"), buckets, weightOf, bias)
    staged.select(col("doc"), nGrams.as("n_grams"),
      Num.r6(score).as("score"))
  }

  /** (doc, _t) → (doc, _toks) through the structural single-evaluation
    * barrier: the scoring expressions reference the token array SIX times
    * (two aggregate folds, a zip_with, a slice, two size() reads), and the
    * higher-order functions fall back from whole-stage codegen, so without
    * the barrier each reference re-runs the regex-normalize + split per
    * row (r17 opt — measured 6 tokenizer evaluations in the r16 plan
    * text; same trap shingleHashes documents). */
  private[graft] def stagedNgramTokens(df: DataFrame): DataFrame =
    graft.core.Barrier.once(df, Seq(col("doc")),
      split(lower(trim(regexp_replace(col("_t"), "\\s+", " "))), " "), "_toks")

  /** The scoring expressions behind [[hashedNgramScore]] and its streaming
    * twin — ONE definition over the STAGED token array (callers stage via
    * [[stagedNgramTokens]]). Returns (n_grams, raw score in (0,1)). */
  private[graft] def hashedNgramScoreExprs(toks: Column, buckets: Int,
                                           weightOf: Column => Column,
                                           bias: Double): (Column, Column) = {
    def w(gram: Column): Column = weightOf(Num.md5Long(gram) % buckets)
    val uniSum = aggregate(toks, lit(0.0), (acc, tk) => acc + w(tk))
    val shifted = slice(toks, lit(2), greatest(size(toks) - 1, lit(0)))
    val biSum = aggregate(
      zip_with(toks, shifted, (a, b) =>
        when(b.isNull, lit(0.0)).otherwise(w(concat(a, lit("_"), b)))),
      lit(0.0), (acc, x) => acc + x)
    val nGrams = (size(toks) + greatest(size(toks) - 1, lit(0))).cast("long")
    (nGrams, lit(1.0) / (lit(1.0) + exp(-(lit(bias) + uniSum + biSum))))
  }

  /** Per-doc hashed-n-gram bucket COUNT columns `h0..h{buckets-1}` — the
    * feature side of the fastText-style classifier, sized for a QN
    * logistic fit (buckets is small by design; the model is the
    * compression). */
  def hashedNgramCounts(df: DataFrame, textCol: String, idCol: String,
                        buckets: Int): DataFrame = {
    val toks = split(lower(trim(regexp_replace(col(textCol), "\\s+", " "))), " ")
    def bucket(gram: Column): Column = Num.md5Long(gram) % buckets
    val shifted = slice(toks, lit(2), greatest(size(toks) - 1, lit(0)))
    val bks = concat(
      transform(toks, t => bucket(t)),
      filter(zip_with(toks, shifted, (a, b) =>
        when(b.isNull, lit(-1L)).otherwise(bucket(concat(a, lit("_"), b)))),
        x => x >= 0L))
    // explode once, then ONE map-side-combined groupBy — evaluating the
    // md5 array a single time per row (a per-bucket filter() column list
    // would re-hash every gram `buckets` times)
    val ex = df.select(col(idCol).cast("long").as("doc"), explode(bks).as("b"))
    val counts = (0 until buckets).map(b =>
      sum(when(col("b") === b, 1.0).otherwise(0.0)).as(s"h$b"))
    ex.groupBy(col("doc")).agg(counts.head, counts.tail: _*)
  }

  /** Per-domain document caps — the crawl-balancing step (keep at most
    * `maxPerDomain` docs per source so no domain dominates the mix):
    * deterministic keeper choice = lowest doc ids within the domain. ONE
    * shuffle on the domain key; the rank window and the summary aggregate
    * reuse it. Output per domain: (domain, n_docs, n_kept). */
  def domainCap(df: DataFrame, domainCol: String, idCol: String,
                maxPerDomain: Int): DataFrame = {
    val w = Window.partitionBy(col("dom")).orderBy(col("doc"))
    df.select(col(domainCol).as("dom"), col(idCol).cast("long").as("doc"))
      .withColumn("_rn", row_number().over(w))
      .groupBy(col("dom"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("_rn") <= maxPerDomain, 1L).otherwise(0L))
          .cast("long").as("n_kept"))
      .select(col("dom").as(domainCol), col("n_docs"), col("n_kept"))
  }

  /** Sliding-window document chunking — the training-prep step that cuts
    * long documents into ≤`chunk`-token windows with `overlap` tokens of
    * context carry-over (stride = chunk − overlap). Pure codegen: token
    * split + explode(sequence) + slice, ZERO shuffle — every decision is
    * integer math on the token count, so the DuckDB list-slice replay is
    * exact. Emits (doc, chunk, start_tok, n_tok, chunk_md5). */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
                     chunk: Int, overlap: Int): DataFrame = {
    require(chunk > overlap && overlap >= 0, "need chunk > overlap >= 0")
    val stride = chunk - overlap
    val toks = split(lower(trim(regexp_replace(col(textCol), "\\s+", " "))), " ")
    val n = size(toks)
    val nChunks = when(n <= chunk, lit(1L)).otherwise(
      lit(1L) + ceil((n - chunk).cast("double") / stride).cast("long"))
    df.select(col(idCol).cast("long").as("doc"), toks.as("_t"), n.as("_n"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk"))
      .withColumn("start_tok", col("chunk") * stride)
      .withColumn("n_tok", least(lit(chunk.toLong), col("_n") - col("start_tok")))
      .select(col("doc"), col("chunk"), col("start_tok"), col("n_tok"),
        md5(concat_ws(" ",
          slice(col("_t"), (col("start_tok") + 1).cast("int"), col("n_tok").cast("int"))))
          .as("chunk_md5"))
  }

  /** Document fingerprints: full-content md5 of normalized text + the
    * minimum 60-bit hash over word trigram shingles (a 1-perm minhash —
    * robust to local edits; rolling-hash flavored). */
  def fingerprints(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val norm = lower(trim(regexp_replace(col(textCol), "\\s+", " ")))
    val base = df.select(col(idCol), md5(norm).as("fp_md5"))
    val shMin = explodedShingles(df, col(idCol), norm, 3)
      .groupBy(col("doc")).agg(min(Num.md5Long(col("sh"))).as("fp_shingle_min"))
    base.join(shMin, base(idCol) === shMin("doc"), "left")
      .select(base(idCol), col("fp_md5"), col("fp_shingle_min"))
  }
}
