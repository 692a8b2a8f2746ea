package graft.queries

import graft.core.Tables
import graft.core.Num.{r4, r6}
import graft.dedup.Dedup
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + dedup query surface over `documents`. */
object TextQueries {
  /** Skip-gram (center, context) pairs within ±2 positions, generated
    * in-row (compiled loop — see the context_windows query note). Empty
    * tokens hold their position but emit/receive no pairs, replicating
    * the former posexplode+filter+join semantics exactly. */
  private val ctxPairsUdf = udf { (toks: Seq[String]) =>
    val n = toks.size
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    while (i < n) {
      val c = toks(i)
      if (c.nonEmpty) {
        var o = -2
        while (o <= 2) {
          val j = i + o
          if (o != 0 && j >= 0 && j < n && toks(j).nonEmpty) out += ((c, toks(j)))
          o += 1
        }
      }
      i += 1
    }
    out
  }

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "bpe_train" -> { (s, d) =>
      // REAL BPE tokenizer training (Sennrich ACL'16): 6 most-frequent-
      // pair merges over the word-TYPE frame (bounded by vocabulary, not
      // corpus — the corpus is scanned once to build it); each round is
      // one map-side-combined pair aggregate + an in-row greedy fold.
      // Full hash gate: every round's argmax pair and count replay in SQL
      // via list_reduce folds
      graft.text.BPE.train(Tables.documents(s, d), col("text"), rounds = 6)
    },
    "bpe_encode" -> { (s, d) =>
      // the tokenizer SERVE path: train the 6 merges, ENCODE the corpus
      // with them, report per-language fertility (tokens/word — the
      // multilingual-fairness gauge a vocab choice is judged by) and
      // realized subword vocabulary. Corpus-scale work = the one word-
      // type scan; merges fold as literal columns, no joins. Full hash
      // gate: the lang-word frame replays the identical 6 folds in SQL
      graft.text.BPE.encodeFertility(Tables.documents(s, d), col("text"),
        col("lang"), rounds = 6)
    },
    "count_min" -> { (s, d) =>
      // Count-Min sketch (4 x 1024 md5-addressed counters) over the token
      // stream + in-pass audit of the top-10 exact tokens: the sketch is
      // ONE map-side-combined (row, slot) groupBy, O(d*w) whatever the
      // corpus; estimates prove the one-sided error bound (never_under)
      // the way dedup_bloom audits its FP rate. Full hash gate
      val toks = Tables.documents(s, d)
        .select(explode(split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      graft.stats.CountMin.topkAudit(toks, col("tok"), d = 4, w = 1024, k = 10)
    },
    "kneser_ney" -> { (s, d) =>
      // interpolated Kneser-Ney bigram perplexity (D=0.75) — the
      // production smoothing for LM-based quality filtering; trained on
      // the ingested front half, scoring the new back half like
      // bigram_perplexity (its add-one audit sibling). Full hash gate
      val docs = Tables.documents(s, d)
      graft.text.Relevance.kneserNeyPerplexity(
          docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
          "text", "doc_id")
        .orderBy("doc")
    },
    "dedup_exact" -> { (s, d) =>
      Dedup.exact(Tables.documents(s, d), "text", "doc_id").orderBy("content_hash")
    },
    "dedup_minhash" -> { (s, d) =>
      Dedup.minhashSignatures(Tables.documents(s, d), "text", "doc_id").orderBy("doc")
    },
    "dedup_minhash_pairs" -> { (s, d) =>
      // FROZEN-PARAMETER (4 bands × 2 hashes) band-machinery AUDIT GATE
      // (r16 declaration — the jaccard_lsh/ann_lsh discipline): the
      // fixed layout measured 25.3× wall / 101× candidate pairs on the
      // organic second decade (SURVEY §6) — not a production path for
      // growing corpora; production candidates are dedup_minhash_auto's
      // n-scaled depth.
      Dedup.minhashCandidates(Tables.documents(s, d), "text", "doc_id")
        .orderBy("doc1", "doc2")
    },
    "dedup_minhash_auto" -> { (s, d) =>
      // n-SCALED LSH candidate stage (r15): band width r grows one row
      // per corpus decade (4 bands × r hashes, r = 2 + ⌊log10(n/5000)⌋
      // clamped [2,5]) — the published S-curve tuning that holds random
      // band-collision mass ~linear where the fixed 4×2 layout measured
      // 101× candidate growth for 10× docs on the organic corpus. The
      // oracle derives the same r from its own count(*) and replays the
      // generic signature via a 20-constant VALUES table. Full hash gate
      // (r = 2 at sf0.01, r = 3 at sf0.1 — both depths driver-gated).
      Dedup.minhashCandidatesAuto(Tables.documents(s, d), "text", "doc_id")
        .orderBy("doc1", "doc2")
    },
    "dedup_edit" -> { (s, d) =>
      // edit-distance-verified near-dup: LSH bands PROPOSE (the minhash
      // candidate machinery — Σ bucket², never n²), codegen levenshtein
      // on the normalized text VERIFIES. The O(l²) distance is computed
      // ONCE per distinct (content-hash, content-hash) pair and joined
      // back — real corpora are full of exact replicas, and the replica
      // cross-product must not re-pay the quadratic scan (measured: the
      // 10×-replicated sf1 corpus proposes 383× the pairs but only ~1×
      // the distinct text pairs); dup = length-normalized ratio ≤ 0.2 on
      // the ROUNDED value. r15: the candidate stage runs the n-SCALED
      // band rule (Dedup.autoParams) — the fixed 4×2 layout's random
      // collisions measured 32.1 M candidates at 500k organic docs,
      // enough to spill the verify join to death; the auto depth holds
      // candidate mass ~linear (11.2k at 500k) with exact dups retained
      // at every depth and ≥80% one-token near-dup recall
      val docs = Tables.documents(s, d)
      val norm = Dedup.normText(col("text"))
      val nt = docs.select(col("doc_id").cast("long").as("_id"),
        norm.as("_nt"), md5(norm).as("_h"))
      // r17 opt (guide §8 — decide with small rows, move heavy bytes
      // once): the pair frame used to carry BOTH normalized texts through
      // two doc-scale joins and was referenced twice (so the whole
      // LSH candidate stage + text joins ran twice — 12+ document scans
      // in the r16 plan). Now the candidate pairs annotate with content
      // HASHES only (compact, cached ⇒ candidate stage runs once) and
      // the texts join only against the DISTINCT-hash table that feeds
      // the levenshtein — identical pairs, identical distances.
      val ids = nt.select(col("_id"), col("_h"))
      val pairsH = Dedup.minhashCandidatesAuto(docs, "text", "doc_id")
        .join(ids.select(col("_id").as("doc1"), col("_h").as("_h1")), "doc1")
        .join(ids.select(col("_id").as("doc2"), col("_h").as("_h2")), "doc2")
        .cache()
      val ht = nt.select(col("_h"), col("_nt")).dropDuplicates("_h")
      val uniq = pairsH.select(col("_h1"), col("_h2")).dropDuplicates("_h1", "_h2")
        .join(ht.select(col("_h").as("_h1"), col("_nt").as("_t1")), "_h1")
        .join(ht.select(col("_h").as("_h2"), col("_nt").as("_t2")), "_h2")
        .select(col("_h1"), col("_h2"),
          levenshtein(col("_t1"), col("_t2")).cast("long").as("_lev"),
          greatest(length(col("_t1")), length(col("_t2"))).cast("double").as("_mx"))
      // both texts normalizing to "" ⇒ max length 0: NULL ratio on both
      // engines (oracle uses NULLIF) instead of Spark-NULL vs DuckDB-inf
      val ratio = r4(when(col("_mx") > 0, col("_lev").cast("double") / col("_mx")))
      pairsH
        .join(uniq, Seq("_h1", "_h2"))
        .select(col("doc1"), col("doc2"), col("_lev").as("edit_dist"),
          ratio.as("edit_ratio"), (ratio <= 0.2).as("is_dup"))
        .orderBy("doc1", "doc2")
    },
    "bleu_score" -> { (s, d) =>
      // corpus BLEU-2 over the LSH candidate pairs (ref = lower id,
      // cand = higher id): modified n-gram precision with per-pair
      // clipping via a counts JOIN (never a token cross product), brevity
      // penalty from total lengths — the pairwise text-overlap score an
      // eval pipeline computes between model output and reference
      val docs = Tables.documents(s, d)
      // r17 opt (guide §8 — decide with small rows): every per-pair value
      // below (clipped counts, lengths) depends only on the two TEXTS, so
      // pairs collapsing to the same (content-hash, content-hash) all
      // contribute the identical value. The pair frame therefore reduces
      // to DISTINCT hash pairs with a multiplicity, gram profiles are
      // computed only for one representative doc per distinct text, and
      // every aggregate weights by the multiplicity. On replicated
      // corpora (sf1 = sf0.1 ×10 ⇒ ~383× candidate pairs, ~1× distinct
      // text pairs) the pair×gram join mass drops by that same factor.
      // BIT-EXACT: every summand is an integer-valued double (gram
      // counts, least of counts, token lengths), so mult×value grouping
      // changes no sum below 2^53. The candidate stage itself (shingle +
      // minhash + band self-join + distinct) is cached — it was
      // recomputed three times (18 document scans in the r16 plan).
      val norm = Dedup.normText(col("text"))
      val nt = docs.select(col("doc_id").cast("long").as("_id"), md5(norm).as("_h"))
      val reps = nt.groupBy(col("_h")).agg(min(col("_id")).as("_rid"))
      val hp = Dedup.minhashCandidates(docs, "text", "doc_id")
        .join(nt.select(col("_id").as("doc1"), col("_h").as("_h1")), "doc1")
        .join(nt.select(col("_id").as("doc2"), col("_h").as("_h2")), "doc2")
        .groupBy(col("_h1"), col("_h2")).agg(count(lit(1)).cast("double").as("_mult"))
        .join(reps.select(col("_h").as("_h1"), col("_rid").as("_r1")), "_h1")
        .join(reps.select(col("_h").as("_h2"), col("_rid").as("_r2")), "_h2")
        .select(col("_r1"), col("_r2"), col("_mult"))
        .cache()
      // gram profiles of DISTINCT texts only (representative docs)
      val repIds = reps.select(col("_rid").as("doc"))
      def gramCounts(k: Int): DataFrame =
        TextOps.explodedShingles(docs, col("doc_id"), norm, k)
          .groupBy(col("doc"), col("sh")).agg(count(lit(1)).cast("double").as("_c"))
          .join(repIds, Seq("doc"), "left_semi")
      def clipped(k: Int, gc: DataFrame): DataFrame =
        hp
          .join(gc.select(col("doc").as("_r2"), col("sh"), col("_c").as("_cc")), "_r2")
          .join(gc.select(col("doc").as("_r1"), col("sh"), col("_c").as("_cr")),
            Seq("_r1", "sh"), "left")
          .agg(sum(col("_mult") * least(col("_cc"), coalesce(col("_cr"), lit(0.0))))
            .as(s"_clip$k"),
            sum(col("_mult") * col("_cc")).as(s"_tot$k"))
      // ONE unigram-count frame feeds both clipped(1) and the length sums
      // (was two full tokenize+groupBy passes building identical frames)
      val gc1 = gramCounts(1)
      val lens = gc1.groupBy(col("doc")).agg(sum(col("_c")).as("_len"))
      val lenAgg = hp
        .join(lens.select(col("doc").as("_r2"), col("_len").as("_lc")), "_r2")
        .join(lens.select(col("doc").as("_r1"), col("_len").as("_lr")), "_r1")
        .agg(sum(col("_mult") * col("_lc")).as("_c"),
          sum(col("_mult") * col("_lr")).as("_r"),
          sum(col("_mult")).cast("long").as("_np"))
      val p1 = col("_clip1") / col("_tot1"); val p2 = col("_clip2") / col("_tot2")
      val bp = when(col("_c") > col("_r"), lit(1.0))
        .otherwise(exp(lit(1.0) - col("_r") / col("_c")))
      val bleu = when(col("_clip1") > 0.0 && col("_clip2") > 0.0,
        bp * exp(lit(0.5) * log(p1) + lit(0.5) * log(p2))).otherwise(lit(0.0))
      lenAgg.crossJoin(clipped(1, gc1)).crossJoin(clipped(2, gramCounts(2)))
        .select(col("_np").as("n_pairs"), r4(p1).as("p1"), r4(p2).as("p2"),
          r4(bp).as("brevity"), r4(bleu).as("bleu2"))
    },
    "yule_k" -> { (s, d) =>
      // Yule's K lexical-richness characteristic (+ type-token ratio):
      // K = 10⁴(Σc² − N)/N² over the term-frequency frame — ONE
      // map-side-combined token groupBy then one bounded reduce; the
      // repetitiveness constant corpus-quality audits track
      val tf = Tables.documents(s, d)
        .select(explode(split(Dedup.normText(col("text")), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("tok")).agg(count(lit(1)).cast("double").as("_c"))
      val g = tf.agg(count(lit(1)).cast("double").as("_v"), sum(col("_c")).as("_n"),
        sum(col("_c") * col("_c")).as("_s2"))
      g.select(col("_n").cast("long").as("n_tokens"), col("_v").cast("long").as("vocab"),
        r4(col("_v") / col("_n")).as("ttr"),
        r4(lit(10000.0) * (col("_s2") - col("_n")) / (col("_n") * col("_n"))).as("yule_k"))
    },
    "ngram_novelty" -> { (s, d) =>
      // per-doc trigram novelty (memorization screen: how much of this
      // doc first appears HERE vs repeats earlier corpus content): share
      // of the doc's trigram types whose global first-occurrence doc is
      // this doc — two map-side-combined groupBys over the shared shingle
      // frame, no pairwise stage
      val docs = Tables.documents(s, d)
      val sh = TextOps.explodedShingles(docs, col("doc_id"),
        Dedup.normText(col("text")), 3)
      val types = sh.select(col("doc"), col("sh")).distinct()
      val firstDoc = sh.groupBy(col("sh")).agg(min(col("doc")).as("_fd"))
      val perDoc = types.groupBy(col("doc")).agg(count(lit(1)).cast("double").as("_nt"))
      val novel = types.join(firstDoc, "sh").filter(col("_fd") === col("doc"))
        .groupBy(col("doc")).agg(count(lit(1)).cast("double").as("_nn"))
      perDoc.join(novel, Seq("doc"), "left")
        .select(col("doc"), col("_nt").cast("long").as("n_types"),
          coalesce(col("_nn"), lit(0.0)).cast("long").as("n_novel"),
          r4(coalesce(col("_nn"), lit(0.0)) / col("_nt")).as("novelty"))
        .orderBy("doc")
    },
    "zipf_fit" -> { (s, d) =>
      // Zipf exponent of the term-frequency distribution: ONE token
      // groupBy (map-side combined), deterministic top-200 cut via
      // TakeOrdered, log-log OLS over the bounded ranked frame — the
      // vocabulary-shape diagnostic an LM corpus audit runs first
      val tf = Tables.documents(s, d)
        .select(explode(split(Dedup.normText(col("text")), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("tok")).agg(count(lit(1)).cast("double").as("_c"))
      val vocab = tf.agg(count(lit(1)).cast("long").as("_v"))
      val top = tf.orderBy(col("_c").desc, col("tok")).limit(200)
      val ranked = top.withColumn("_r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("_c").desc, col("tok")))
        .cast("double"))
      val g = ranked.select(log(col("_r")).as("_x"), log(col("_c")).as("_y"))
        .agg(count(lit(1)).cast("double").as("_n"), sum(col("_x")).as("_sx"),
          sum(col("_y")).as("_sy"), sum(col("_x") * col("_y")).as("_sxy"),
          sum(col("_x") * col("_x")).as("_sxx"))
      val slope = (col("_sxy") - col("_sx") * col("_sy") / col("_n")) /
        (col("_sxx") - col("_sx") * col("_sx") / col("_n"))
      g.crossJoin(broadcast(vocab)).select(col("_n").cast("long").as("n_terms"),
        col("_v").as("vocab_size"), r4(slope).as("zipf_slope"),
        r4(col("_sy") / col("_n") - slope * (col("_sx") / col("_n"))).as("intercept"))
    },
    "heaps_law" -> { (s, d) =>
      // Heaps' law vocab-growth fit V(N) = K·N^β over word TRIGRAMS (the
      // synthetic corpus's unigram/bigram vocabularies saturate within the
      // first checkpoint — trigrams keep minting types, the regime the law
      // describes): per-type first-occurrence doc + per-doc type counts,
      // both evaluated at 10 doc-id checkpoints via a bounded-broadcast
      // conditional aggregation (no data-scale ordered window anywhere);
      // log-log OLS gives β
      val docs = Tables.documents(s, d)
      val tok = TextOps.explodedShingles(docs, col("doc_id"),
          Dedup.normText(col("text")), 3)
        .select(col("doc").as("_doc"), col("sh").as("tok"))
      val perDoc = tok.groupBy(col("_doc")).agg(count(lit(1)).cast("double").as("_nt"))
      val firstDoc = tok.groupBy(col("tok")).agg(min(col("_doc")).as("_fd"))
      val mx = docs.agg(max(col("doc_id").cast("long")).as("_mx"))
      val cps = s.range(1, 11).select(col("id").as("k")).crossJoin(broadcast(mx))
        .select(col("k"), floor(col("_mx") * col("k") / 10.0).cast("long").as("ck"))
      val nK = perDoc.crossJoin(broadcast(cps)).filter(col("_doc") <= col("ck"))
        .groupBy(col("k")).agg(sum(col("_nt")).as("_N"))
      val vK = firstDoc.crossJoin(broadcast(cps)).filter(col("_fd") <= col("ck"))
        .groupBy(col("k")).agg(count(lit(1)).cast("double").as("_V"))
      val g = nK.join(vK, "k")
        .select(log(col("_N")).as("_x"), log(col("_V")).as("_y"))
        .agg(count(lit(1)).cast("double").as("_n"), sum(col("_x")).as("_sx"),
          sum(col("_y")).as("_sy"), sum(col("_x") * col("_y")).as("_sxy"),
          sum(col("_x") * col("_x")).as("_sxx"))
      val slope = (col("_sxy") - col("_sx") * col("_sy") / col("_n")) /
        (col("_sxx") - col("_sx") * col("_sx") / col("_n"))
      g.select(col("_n").cast("long").as("n_points"), r4(slope).as("heaps_beta"),
        r4(exp(col("_sy") / col("_n") - slope * (col("_sx") / col("_n")))).as("heaps_k"))
    },
    "dedup_simhash" -> { (s, d) =>
      Dedup.simhash(Tables.documents(s, d), "text", "doc_id").orderBy("doc")
    },
    "dedup_simhash_pairs" -> { (s, d) =>
      // SYNTHETIC-CORPUS AUDIT TWIN of dedup_simhash_idf (r15 re-scope,
      // the quantile_buckets declaration discipline): the unweighted
      // signature is measured DEGENERATE on natural Zipf text (one band
      // bucket held 58% of a 50k organic corpus → 1.45 G candidate
      // pairs); on the uniform-vocabulary test corpus it is exact and
      // audits the shared band/hamming machinery bit-for-bit. The
      // production pair path is dedup_simhash_idf.
      Dedup.simhashPairs(Tables.documents(s, d), "text", "doc_id")
        .orderBy("doc1", "doc2")
    },
    "dedup_simhash_idf" -> { (s, d) =>
      // IDF-filtered SimHash (r14): distinct tokens per doc, df > n/2
      // tokens dropped — the Manku-style weighting that prevents the
      // common-word signature collapse measured on Zipf text (one band
      // value held 58% of a 50k corpus unweighted). Full hash gate: the
      // oracle replays the df filter and both band/hamming stages
      Dedup.simhashIdfPairs(Tables.documents(s, d), "text", "doc_id")
        .orderBy("doc1", "doc2")
    },
    "dedup_clusters" -> { (s, d) =>
      Dedup.minhashClusters(Tables.documents(s, d), "text", "doc_id").orderBy("doc")
    },
    "dedup_near_keep_best" -> { (s, d) =>
      // NEAR-duplicate keep-best — the production composition of MinHash
      // LSH clustering with quality scoring: within each near-dup cluster
      // keep the highest-quality doc (tie → smaller id); docs outside any
      // cluster pass through as their own keeper. Scale shape: the pair
      // graph forms only inside LSH bands (never n²), the CC is the fixed
      // 8-round min-label propagation, and the final pick is one window
      // over the bounded cluster key.
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val scored = docs.select(col("doc_id").cast("long").as("doc"), col("lang"),
        TextOps.qualityScore(col("text")).as("quality"))
      val clusters = Dedup.minhashClusters(docs, "text", "doc_id")
      val joined = scored.join(clusters.select(col("doc"), col("keeper")), Seq("doc"), "left")
        .withColumn("_cl", coalesce(col("keeper"), col("doc")))
      val w = Window.partitionBy(col("_cl"))
        .orderBy(col("quality").desc, col("doc").asc)
      joined.withColumn("_rn", row_number().over(w))
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("_rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          graft.core.Num.r4(avg(when(col("_rn") === 1, col("quality"))))
            .as("avg_kept_quality"))
        .orderBy("lang")
    },
    "dedup_segments" -> { (s, d) =>
      Dedup.segmentDedup(Tables.documents(s, d), "text", "doc_id",
          k = 3, minCount = 2L)
        .orderBy("doc")
    },
    "dedup_span" -> { (s, d) =>
      Dedup.spanDedup(Tables.documents(s, d), "text", "doc_id",
          k = 5, minCount = 2L)
        .orderBy("doc")
    },
    "jaccard_lsh" -> { (s, d) =>
      Dedup.jaccardForCandidates(Tables.documents(s, d), "text", "doc_id")
        .select(col("doc1"), col("doc2"), r6(col("jaccard")).as("jaccard"))
        .orderBy("doc1", "doc2")
    },
    "jaccard_lsh_auto" -> { (s, d) =>
      // the exact-Jaccard verify measure over the n-SCALED candidate
      // stage (r15): the frozen 4×2 stage's 32.1 M candidates × the
      // shingle join disk-killed the 500k-doc organic run; the auto
      // depth keeps the verify join linear in corpus size
      Dedup.jaccardForCandidatesAuto(Tables.documents(s, d), "text", "doc_id")
        .select(col("doc1"), col("doc2"), r6(col("jaccard")).as("jaccard"))
        .orderBy("doc1", "doc2")
    },
    "minhash_containment_auto" -> { (s, d) =>
      // Broder containment over the n-SCALED candidate stage (r15) —
      // same scale rationale as jaccard_lsh_auto
      Dedup.containmentForCandidatesAuto(Tables.documents(s, d), "text", "doc_id")
        .select(col("doc1"), col("doc2"), r6(col("containment")).as("containment"),
          r6(col("jaccard")).as("jaccard"),
          (r6(col("containment")) >= 0.9).as("contained"))
        .orderBy("doc1", "doc2")
    },
    "minhash_containment" -> { (s, d) =>
      // Broder containment over the same LSH candidates: the asymmetric
      // doc-inside-doc signal; contained flag on the ROUNDED score
      Dedup.containmentForCandidates(Tables.documents(s, d), "text", "doc_id")
        .select(col("doc1"), col("doc2"), r6(col("containment")).as("containment"),
          r6(col("jaccard")).as("jaccard"),
          (r6(col("containment")) >= 0.9).as("contained"))
        .orderBy("doc1", "doc2")
    },
    "ngram_jaccard" -> { (s, d) =>
      Dedup.ngramJaccard(Tables.documents(s, d), "text", "doc_id", "source",
          k = 2, maxIdGap = 25L, minJaccard = 0.0)
        .orderBy(col("jaccard").desc, col("doc1"), col("doc2"))
        .limit(20)
        .select(col("doc1"), col("doc2"), r6(col("jaccard")).as("jaccard"))
    },
    "stratified_sample" -> { (s, d) =>
      graft.preprocessing.Preprocessing.stratifiedSample(
          Tables.documents(s, d), "doc_id", "lang",
          Map("en" -> 0.5, "es" -> 0.3, "de" -> 0.2, "fr" -> 0.1, "zh" -> 0.05))
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_kept"),
          min(col("doc_id")).cast("long").as("first_kept"),
          max(col("doc_id")).cast("long").as("last_kept"))
        .orderBy("lang")
    },
    "decontaminate" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.benchmarkOverlap(
          docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
          "text", "doc_id")
        .orderBy("doc")
    },
    "dedup_incremental" -> { (s, d) =>
      // ingest-time dedup: the back half of the corpus arrives as a new
      // shard and is checked against the already-ingested front half
      val docs = Tables.documents(s, d)
      Dedup.incremental(docs.filter(col("doc_id") >= 250),
          docs.filter(col("doc_id") < 250), "text", "doc_id", "lang")
        .orderBy("lang")
    },
    "dedup_bloom" -> { (s, d) =>
      // constant-size ingest index: the already-ingested front half
      // summarized as a 2^18-bit deterministic bloom set, the new shard
      // probed with 3 md5 hash slots per doc; the exact hash check runs in
      // the same pass so the operator audits its own false-positive count
      val docs = Tables.documents(s, d)
      Dedup.bloomIncremental(docs.filter(col("doc_id") >= 250),
          docs.filter(col("doc_id") < 250), "text", "doc_id", "lang")
        .orderBy("lang")
    },
    "hashed_ngram_score" -> { (s, d) =>
      // closed-form pseudo-weights (Knuth multiplicative hash of the
      // bucket id) so the oracle replays the lookup without a 256-literal
      // list; the trained-weights path is exercised in PipelineOpsSpec
      TextOps.hashedNgramScore(Tables.documents(s, d), "text", "doc_id",
          buckets = 256,
          weightOf = b => ((b * lit(2654435761L)) % 1997).cast("double") / 1997.0 - 0.5,
          bias = 0.1)
        .orderBy("doc")
    },
    "pii_mask" -> { (s, d) =>
      // the corpus carries no PII, so the query plants a deterministic
      // email/IP/number per doc (derived from doc_id identically in the
      // oracle) — the masking path is exercised for real
      val withPii = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 192.168."), (col("doc_id") % 256).cast("string"),
          lit(".7 or call 55512"), (col("doc_id") + 34567).cast("string")).as("text"))
      TextOps.piiMask(withPii, "text", "doc_id").orderBy("doc")
    },
    "tfidf_top_terms" -> { (s, d) =>
      graft.text.Relevance.tfIdfTopTerms(Tables.documents(s, d), "text", "doc_id",
          topN = 3)
        .orderBy("doc", "rank")
    },
    "pmi_collocations" -> { (s, d) =>
      graft.text.Relevance.pmiTopPairs(Tables.documents(s, d), "text", "doc_id",
        minCount = 3L, topN = 20)
    },
    "domain_cap" -> { (s, d) =>
      graft.text.TextOps.domainCap(Tables.documents(s, d), "source", "doc_id", 15)
        .orderBy("source")
    },
    "tokenizer_fertility" -> { (s, d) =>
      // tokens-per-word fertility per language — the tokenizer-budget
      // metric corpus pipelines track before training. Words in the
      // literal merge vocabulary cost one token; OOV words fall back to
      // ⌈len/4⌉ byte-pair pieces (the standard ~4-chars-per-token prior).
      // ONE scan, map-side-combined lang groupBy.
      val toks = Tables.documents(s, d).select(col("lang"),
          explode(split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val cost = when(col("w").isInCollection(FertilityVocab), lit(1L))
        .otherwise(ceil(length(col("w")) / lit(4.0)).cast("long"))
      toks.select(col("lang"), cost.as("_t"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n_words"),
          sum(col("_t")).cast("long").as("n_tokens"),
          round(sum(col("_t")) / count(lit(1)), 4).as("fertility"))
        .orderBy("lang")
    },
    "dedup_url" -> { (s, d) =>
      // crawl-side URL dedup (the host-level twin of domain_cap):
      // synthesize a deterministic messy URL per doc — scheme case, www,
      // default port, tracking params, trailing slash, fragment — then
      // canonicalize and count per-host URLs that collide after
      // canonicalization. ONE scan, host groupBy.
      val docs = Tables.documents(s, d)
      val url = concat(
        when(col("doc_id") % 4 === 0, lit("HTTPS://WWW.")).otherwise(lit("https://")),
        col("source"), lit(".example.com"),
        when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
        lit("/articles/"), (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit("?utm_source=feed&utm_campaign="), (col("doc_id") % 9).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("#frag")).otherwise(lit("")))
      val u1 = lower(url)
      val host = regexp_extract(u1, "^https?://(?:www\\.)?([^/:?#]+)", 1)
      val path = regexp_replace(regexp_replace(
        regexp_replace(u1, "^https?://[^/?#]*", ""), "[?#].*$", ""), "/$", "")
      docs.select(host.as("host"), concat(host, path).as("canon"))
        .groupBy("host")
        .agg(count(lit(1)).cast("long").as("n_urls"),
          countDistinct(col("canon")).cast("long").as("n_canonical"),
          (count(lit(1)) - countDistinct(col("canon"))).cast("long").as("n_dup"))
        .orderBy("host")
    },
    "chunk_documents" -> { (s, d) =>
      graft.text.TextOps.chunkDocuments(Tables.documents(s, d), "text", "doc_id",
          chunk = 64, overlap = 16)
        .orderBy("doc", "chunk")
    },
    "heavy_hitters" -> { (s, d) =>
      graft.text.Relevance.heavyHitterTokens(Tables.documents(s, d), "text", topN = 20)
    },
    "heavy_hitters_approx" -> { (s, d) =>
      // sketch-prune → exact-verify, UPGRADED to a full hash gate (r11):
      // freqItems' no-false-negative contract (every term with frequency
      // > support survives the one-pass sketch) + exact counts on the
      // bounded candidate set + the support cut applied to the EXACT
      // counts — the emitted answer is the true heavy-hitter set,
      // independent of the sketch's partition-order-dependent extras
      graft.text.Relevance.verifiedHeavyHitters(Tables.documents(s, d), "text",
        support = 0.01)
    },
    "bigram_perplexity" -> { (s, d) =>
      // LM trained on the already-ingested front half, scoring the new
      // back half — the CCNet quality-filter composition
      val docs = Tables.documents(s, d)
      graft.text.Relevance.bigramPerplexity(
          docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
          "text", "doc_id")
        .orderBy("doc")
    },
    "bm25_search" -> { (s, d) =>
      graft.text.Relevance.bm25(Tables.documents(s, d), "text", "doc_id",
          Seq("hash", "scan", "merge"), topN = 10)
        .orderBy("doc")
    },
    "rrf_fusion" -> { (s, d) =>
      // hybrid retrieval: reciprocal-rank fusion (Cormack et al.,
      // SIGIR'09; k=60) of the BM25 lexical ranking and the embedding
      // cosine ranking — the standard hybrid-search primitive. Both
      // component rankers are the already-gated operators; fusion itself
      // is a full-outer join of two BOUNDED top-20 lists (driver-scale),
      // so the corpus-scale work stays inside the component rankers.
      import org.apache.spark.sql.expressions.Window
      val lex = graft.text.Relevance.bm25(Tables.documents(s, d), "text", "doc_id",
          Seq("hash", "scan", "merge"), topN = 20)
        .select(col("doc"), row_number()
          .over(Window.orderBy(col("score").desc, col("doc"))).as("lrank"))
      val e = Tables.embeddings(s, d)
      val sem = graft.neighbors.KNN.bruteForce(e.filter(col("vec_id") === 0), e,
          "vec_id", "vec_id", "embedding", "embedding", 20, graft.neighbors.KNN.Cosine)
        .select(col("id").as("doc"), col("rank").as("srank"))
      lex.join(sem, Seq("doc"), "full_outer")
        .select(col("doc"),
          (coalesce(lit(1.0) / (lit(60.0) + col("lrank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("srank")), lit(0.0))).as("_rrf"),
          col("lrank").isNotNull.as("in_lex"), col("srank").isNotNull.as("in_sem"))
        .orderBy(col("_rrf").desc, col("doc")).limit(10)
        .select(col("doc"), r6(col("_rrf")).as("rrf"), col("in_lex"), col("in_sem"))
        .orderBy("doc")
    },
    "langid" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang").as("lang_actual"), TextOps.langIdScore(col("text")).as("lang_pred"))
        .groupBy("lang_actual", "lang_pred")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("lang_actual", "lang_pred")
    },
    "text_quality" -> { (s, d) =>
      TextOps.qualityFeatures(Tables.documents(s, d), "text", "doc_id").orderBy("doc_id")
    },
    "dedup_keep_best" -> { (s, d) =>
      // keep-best dedup — the production composition of exact dedup with
      // quality scoring: within each exact-duplicate group (md5(text))
      // keep the highest-quality doc (tie → smaller id). ONE shuffle on
      // the content hash (each group is a duplicate cluster, bounded by
      // its multiplicity), then a map-side-combined per-lang rollup —
      // the shape that drops straight onto 100 TB.
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val keyed = docs.select(col("doc_id"), col("lang"), md5(col("text")).as("h"),
        TextOps.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy(col("h"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      keyed.withColumn("_rn", row_number().over(w))
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("_rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          graft.core.Num.r4(avg(when(col("_rn") === 1, col("quality"))))
            .as("avg_kept_quality"))
        .orderBy("lang")
    },
    "token_count" -> { (s, d) =>
      TextOps.tokenCounts(Tables.documents(s, d), "text", "doc_id").orderBy("doc_id")
    },
    "weighted_sample" -> { (s, d) =>
      // 50 docs sampled ∝ n_chars without replacement (Efraimidis-Spirakis
      // keys) — the length-weighted subcorpus draw
      graft.preprocessing.Preprocessing.weightedSample(
          Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
          "doc_id", col("n_chars"), n = 50)
        .select(col("doc_id").cast("long").as("doc"), col("lang"),
          col("_skey").as("skey"))
        .orderBy("doc")
    },
    "pack_sequences" -> { (s, d) =>
      // shard = (lang, contiguous id-range): production packs per bounded
      // file-shard, not per language — shard count grows with the corpus
      // so no single window partition ever exceeds a shard
      val docs = Tables.documents(s, d).withColumn("_shard",
        concat(col("lang"), lit("_"), floor(col("doc_id") / 250).cast("long")))
      TextOps.packSequences(docs, "text", "doc_id", "_shard", budget = 512L)
        .orderBy("shard", "pack")
    },
    "doc_length_stats_approx" -> { (s, d) =>
      // the PRODUCTION path doc_length_stats declares: approx_percentile
      // (one map-side-combined sketch aggregate, no window, no sort).
      // PARTIAL HASH GATE (r11): lang + exact doc count + the spec's
      // within-max(2, p/10) error-bound booleans hashed; the sketch
      // estimates themselves stay engine-internal
      Tables.documents(s, d)
        .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          percentile_approx(col("n_tokens"), lit(0.5), lit(1000)).as("_p50a"),
          percentile_approx(col("n_tokens"), lit(0.9), lit(1000)).as("_p90a"),
          expr("percentile(n_tokens, 0.5)").as("_p50e"),
          expr("percentile(n_tokens, 0.9)").as("_p90e"))
        .select(col("lang"), col("n_docs"),
          (abs(col("_p50a") - col("_p50e")) <=
            greatest(lit(2.0), col("_p50e") / 10)).as("p50_close"),
          (abs(col("_p90a") - col("_p90e")) <=
            greatest(lit(2.0), col("_p90e") / 10)).as("p90_close"))
        .orderBy("lang")
    },
    "doc_length_stats" -> { (s, d) =>
      // per-language token-length distribution (pipeline monitoring):
      // exact rank-select quantiles. The window partitions on lang
      // (bounded cardinality, one language per partition); the
      // petabyte-scale production path is approx_percentile — this is its
      // exact, oracle-able audit twin.
      import org.apache.spark.sql.expressions.Window
      val base = Tables.documents(s, d).select(col("lang"),
        col("doc_id").cast("long").as("doc"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val ranked = base
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy(col("n_tokens"), col("doc"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      ranked.groupBy("lang").agg(
          max(col("n")).cast("long").as("n_docs"),
          min(col("n_tokens")).as("min_tokens"),
          max(when(col("rn") === ceil(col("n") * 0.5), col("n_tokens"))).as("p50"),
          max(when(col("rn") === ceil(col("n") * 0.9), col("n_tokens"))).as("p90"),
          max(col("n_tokens")).as("max_tokens"),
          round(avg(col("n_tokens")), 4).as("avg_tokens"))
        .orderBy("lang")
    },
    "fingerprint" -> { (s, d) =>
      TextOps.fingerprints(Tables.documents(s, d), "text", "doc_id").orderBy("doc_id")
    },
    "repetition_score" -> { (s, d) =>
      TextOps.repetitionFeatures(Tables.documents(s, d), "text", "doc_id")
        .orderBy("doc_id")
    },
    "gopher_filters" -> { (s, d) =>
      TextOps.gopherFilters(Tables.documents(s, d), "text", "doc_id")
    },
    "mix_weights" -> { (s, d) =>
      TextOps.mixWeights(Tables.documents(s, d), "lang", MixTargets).orderBy("lang")
    },
    "context_windows" -> { (s, d) =>
      // skip-gram training-pair extraction (center, context) within ±2.
      // r18 (guide §2.4): the window is ADJACENT POSITIONS WITHIN ONE
      // DOCUMENT, so the pairs are generated in-row from the token array
      // by a compiled loop and exploded — the former shape tokenized the
      // corpus twice and shuffled 4×tokens probe rows through a
      // (doc, pos) equi-join to look up neighbors that were in the same
      // array all along. Identical pair multiset: (toks(i), toks(j)) for
      // j ∈ {i±1, i±2} in range, both tokens non-empty (the old filter
      // kept positions of empty tokens as holes — replicated exactly).
      // One map-side-combined pair count + TakeOrdered top-20 remain.
      val docs = Tables.documents(s, d)
      val pairs = docs.select(explode(ctxPairsUdf(
          split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " "))).as("t"))
      pairs.select(col("t._1").as("center"), col("t._2").as("context"))
        .groupBy("center", "context")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("n").desc, col("center"), col("context")).limit(20)
    },
    "negative_sampling" -> { (s, d) =>
      // word2vec-style negative sampling, md5-deterministic: vocab =
      // top-100 tokens, weight ∝ count^0.75 QUANTIZED to the 1e-6 grid
      // before the cumulative boundaries (so both engines cut identical
      // CDF ranges); each (doc, pos) center draws 2 negatives by u·W
      // interval lookup. The CDF is driver-sized BY CONSTRUCTION (100
      // rows), so it collects into a codegen'd interval CASE — the
      // kmeans_assign fixed-model pattern — instead of the former
      // range-predicate BroadcastNestedLoopJoin, which evaluated ~100
      // interpreted predicates per corpus row (r10 verdict finding).
      val docs = Tables.documents(s, d)
      val tk = docs.select(col("doc_id").as("doc"),
          posexplode(split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " "))
            .as(Seq("pos", "tok")))
        .filter(length(col("tok")) > 0)
      val vocab = tk.groupBy("tok").agg(count(lit(1)).cast("double").as("_c"))
        .orderBy(col("_c").desc, col("tok")).limit(100)
        .select(col("tok"), round(pow(col("_c"), 0.75), 6).as("_w"))
      // cumulative boundaries in (w desc, tok) order — sequential adds in
      // the same order the oracle's window sum runs, so the double-precision
      // cuts are bit-identical to the SQL replay
      val entries = graft.core.FitCache.getOrFit[Array[(String, Double)]](
        graft.core.FitCache.key(vocab, "ns_cdf")) {
        vocab.collect().map(r => (r.getString(0), r.getDouble(1)))
          .sortBy { case (t, w) => (-w, t) }
      }
      val his = entries.scanLeft(0.0) { case (acc, (_, w)) => acc + w }.tail
      val tot = his.last
      val u = (graft.core.Num.md5Long(concat(col("doc"), lit("_"), col("pos"),
        lit("_ns_"), col("_j"))) % 1000000L / lit(1000000.0) * tot)
      // first interval whose upper bound exceeds u — the last branch's
      // bound is the total mass, and u < tot always (md5 % 1e6 ≤ 999999).
      // The draw is PROJECTED ONCE as _u before the CASE chain: embedding
      // the md5 expression in all 100 branches blew the generated method
      // past codegen limits and re-evaluated the hash per branch
      // interpreted (~10 s at sf0.1); against a plain double column the
      // 100-way CASE is cheap codegen.
      val pick = entries.zip(his).foldRight(lit(null).cast("string")) {
        case (((t, _), hi), acc) => when(col("_u") < hi, lit(t)).otherwise(acc)
      }
      tk.select(col("doc"), col("pos"),
          explode(array(lit(1), lit(2))).as("_j"))
        .select(u.as("_u"))
        .select(pick.as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).cast("long").as("n_sampled"))
        .orderBy(col("n_sampled").desc, col("tok")).limit(15)
    },
    "tfidf_pairs" -> { (s, d) =>
      // sparse-cosine document similarity over the df-pruned inverted
      // index (terms in > half the corpus drop before the posting join)
      graft.text.Relevance.tfidfCosinePairs(Tables.documents(s, d),
        "text", "doc_id", topN = 20)
    },
    "oov_rate" -> { (s, d) =>
      // tokenizer vocab coverage: OOV share per doc against the corpus
      // top-500 vocabulary (count desc, token tie-break — a deterministic
      // cut), per-lang summary. Vocab = one token-key groupBy +
      // TakeOrdered; membership = broadcast left join
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), col("lang"),
          explode(split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("_c"))
        .orderBy(col("_c").desc, col("tok")).limit(500)
        .select(col("tok"), lit(1).as("_in"))
      val perDoc = toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).cast("double").as("_n"),
          sum(when(col("_in").isNull, 1.0).otherwise(0.0)).as("_oov"))
      perDoc.groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          r6(avg(col("_oov") / col("_n"))).as("avg_oov_rate"),
          r6(max(col("_oov") / col("_n"))).as("max_oov_rate"))
        .orderBy("lang")
    },
    "nb_fit" -> { (s, d) =>
      // multinomial NB fit summary on the md5 train split: per-class doc /
      // token / vocab counts + rounded log-prior (three map-side-combined
      // groupBys; vocab joins as a broadcast scalar)
      graft.text.NaiveBayes.fitSummary(Tables.documents(s, d), "text", "lang")
    },
    "naive_bayes" -> { (s, d) =>
      // the counts-only text classifier, fit/predict separated on the md5
      // split: add-one-smoothed log scores, per-doc argmax on ROUNDED
      // values, test-split confusion matrix
      graft.text.NaiveBayes.fitPredictConfusion(Tables.documents(s, d), "text", "lang")
    }
  )

  /** Literal single-token merge vocabulary for tokenizer_fertility — the
    * high-frequency words a trained BPE merges to one token. */
  private[queries] val FertilityVocab = Seq(
    "the", "of", "and", "to", "a", "in", "is", "for", "on", "with",
    "as", "by", "at", "from", "that", "this", "it", "are", "was", "be",
    "key", "row", "scan", "table", "value", "hash", "part", "fast", "merge", "batch")

  /** Literal language mix for the mix_weights query (shares sum to 1). */
  private val MixTargets = Seq(
    "de" -> 0.2, "en" -> 0.4, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.1)

  private val normToks =
    """string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')"""

  /** Shared CTE chain ending in `bands` (band, bkey, doc_id) — the LSH
    * band rows every minhash oracle keys on, including ModelQueries'
    * persisted-index serve oracle. */
  private[queries] lazy val minhashBandCtes =
    s"""n AS (SELECT doc_id, $normToks AS toks FROM documents),
       |sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
       |    THEN list_transform(range(0, len(toks)-2), i -> toks[i+1] || '_' || toks[i+2] || '_' || toks[i+3])
       |    ELSE [] END) AS s FROM n),
       |h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS hv FROM sh),
       |sig AS (SELECT doc_id,
       |  min((1103515245*hv+12345) % 2147483647) AS mh0, min((69069*hv+362437) % 2147483647) AS mh1,
       |  min((1664525*hv+1013904223) % 2147483647) AS mh2, min((22695477*hv+1) % 2147483647) AS mh3,
       |  min((134775813*hv+1) % 2147483647) AS mh4, min((214013*hv+2531011) % 2147483647) AS mh5,
       |  min((75*hv+74) % 2147483647) AS mh6, min((1103515247*hv+54321) % 2147483647) AS mh7
       | FROM h GROUP BY doc_id),
       |bands AS (
       | SELECT 0 AS band, mh0::VARCHAR || '_' || mh1::VARCHAR AS bkey, doc_id FROM sig UNION ALL
       | SELECT 1, mh2::VARCHAR || '_' || mh3::VARCHAR, doc_id FROM sig UNION ALL
       | SELECT 2, mh4::VARCHAR || '_' || mh5::VARCHAR, doc_id FROM sig UNION ALL
       | SELECT 3, mh6::VARCHAR || '_' || mh7::VARCHAR, doc_id FROM sig)""".stripMargin

  /** Shared CTE chain ending in `pr` (the distinct minhash candidate
    * pairs) — used by both the pairs oracle and the CC-clusters oracle. */
  private lazy val minhashPairsCtes =
    s"""$minhashBandCtes,
       |pr AS (SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2
       | FROM bands l JOIN bands r ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id)""".stripMargin

  /** The n-SCALED candidate CTEs (Dedup.autoParams replay): r derived
    * from count(*), generic signature over the 20-constant family, band
    * key = string_agg within i // r — ends at the same pr(doc1, doc2)
    * shape as [[minhashPairsCtes]] so verify-stage oracles compose with
    * either candidate discipline. */
  private lazy val minhashAutoPairsCtes =
    s"""n AS (SELECT doc_id, $normToks AS toks FROM documents),
       |sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
       |    THEN list_transform(range(0, len(toks)-2), i -> toks[i+1] || '_' || toks[i+2] || '_' || toks[i+3])
       |    ELSE [] END) AS s FROM n),
       |h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS hv FROM sh),
       |prm AS (SELECT least(5, 2 + greatest(0,
       |    floor(log10(greatest(1, (SELECT count(*) FROM documents)) / 5000.0))))::INT AS r),
       |ab(i, a, b) AS (VALUES (0,1103515245,12345),(1,69069,362437),
       |  (2,1664525,1013904223),(3,22695477,1),(4,134775813,1),(5,214013,2531011),
       |  (6,75,74),(7,1103515247,54321),(8,16807,7),(9,48271,11),(10,69621,13),
       |  (11,40692,17),(12,65539,19),(13,1566083941,23),(14,1812433253,29),
       |  (15,630360016,31),(16,397204094,37),(17,950706376,41),(18,742938285,43),
       |  (19,62089911,47)),
       |sig AS (SELECT doc_id, ab.i AS i, min((ab.a*hv + ab.b) % 2147483647) AS mh
       |  FROM h CROSS JOIN ab CROSS JOIN prm WHERE ab.i < 4*prm.r
       |  GROUP BY doc_id, ab.i),
       |bands AS (SELECT doc_id, (sig.i // prm.r) AS band,
       |    string_agg(mh::VARCHAR, '_' ORDER BY sig.i) AS bkey
       |  FROM sig CROSS JOIN prm GROUP BY doc_id, (sig.i // prm.r)),
       |pr AS (SELECT DISTINCT l.doc_id AS doc1, r2.doc_id AS doc2
       |  FROM bands l JOIN bands r2
       |  ON l.band = r2.band AND l.bkey = r2.bkey AND l.doc_id < r2.doc_id)""".stripMargin

  /** CTE chain ending in `sg` (doc, 60-bit IDF-FILTERED simhash) —
    * distinct (doc, token) rows, df > n/2 tokens dropped, then the same
    * 60 per-bit sign-sums; mirrors Dedup.simhashIdf. */
  private lazy val simhashIdfSigCtes = {
    val bitTerms = (0 until 60).map { b =>
      s"(CASE WHEN sum(CASE WHEN (h >> $b) % 2 = 1 THEN 1 ELSE -1 END) > 0" +
        s" THEN (1::BIGINT << $b) ELSE 0::BIGINT END)"
    }.mkString(" + ")
    s"""n0 AS (SELECT count(*) AS nn FROM documents),
       |n AS (SELECT doc_id, $normToks AS toks FROM documents),
       |tk0 AS (SELECT doc_id, unnest(toks) AS tok FROM n),
       |tk AS (SELECT DISTINCT doc_id, tok FROM tk0),
       |dfc AS (SELECT tok, count(*) AS dfx FROM tk GROUP BY tok),
       |kp AS (SELECT tk.doc_id, tk.tok FROM tk JOIN dfc ON dfc.tok = tk.tok, n0
       |  WHERE dfc.dfx * 2 <= n0.nn),
       |th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM kp),
       |sg AS (SELECT doc_id::BIGINT AS doc, ($bitTerms)::BIGINT AS simhash
       |  FROM th GROUP BY doc_id)""".stripMargin
  }

  /** CTE chain ending in `sg` (doc, 60-bit simhash) — 60 per-bit sign-sums
    * in one grouped select, mirroring Dedup.simhash. */
  private lazy val simhashSigCtes = {
    val bitTerms = (0 until 60).map { b =>
      s"(CASE WHEN sum(CASE WHEN (h >> $b) % 2 = 1 THEN 1 ELSE -1 END) > 0" +
        s" THEN (1::BIGINT << $b) ELSE 0::BIGINT END)"
    }.mkString(" + ")
    s"""n AS (SELECT doc_id, $normToks AS toks FROM documents),
       |tk AS (SELECT doc_id, unnest(toks) AS tok FROM n),
       |th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tk),
       |sg AS (SELECT doc_id::BIGINT AS doc, ($bitTerms)::BIGINT AS simhash
       |  FROM th GROUP BY doc_id)""".stripMargin
  }

  /** Shared CTE chain for the NB oracles: md5 split + train token counts. */
  private lazy val nbTrainCtes =
    s"""b AS (SELECT doc_id AS doc, lang AS truth, $normToks AS toks,
       |    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || '_42'), 1, 15))::BIGINT % 1000 < 250
       |      THEN 'test' ELSE 'train' END AS sp FROM documents),
       |trt0 AS (SELECT truth AS class, unnest(toks) AS tok FROM b WHERE sp = 'train'),
       |trt AS (SELECT * FROM trt0 WHERE length(tok) > 0),
       |ct AS (SELECT class, tok, count(*)::DOUBLE AS ctk FROM trt GROUP BY 1, 2),
       |tot AS (SELECT class, count(*)::DOUBLE AS tot FROM trt GROUP BY 1),
       |nd AS (SELECT truth AS class, count(*)::DOUBLE AS ndoc FROM b WHERE sp = 'train' GROUP BY 1),
       |vv AS (SELECT count(DISTINCT tok)::DOUBLE AS v FROM trt),
       |ntr AS (SELECT count(*)::DOUBLE AS ntr FROM b WHERE sp = 'train')""".stripMargin

  /** Positioned-token CTE shared by the skip-gram oracles (toks carried
    * per row so the unnest index can subscript it). */
  private lazy val posTokCtes =
    s"""n AS (SELECT doc_id, $normToks AS toks FROM documents),
       |tk0 AS (SELECT doc_id AS doc, toks, unnest(range(0, len(toks))) AS pos FROM n),
       |tk AS (SELECT doc, pos, toks[pos + 1] AS tok FROM tk0 WHERE length(toks[pos + 1]) > 0)""".stripMargin

  /** BPE replay: the word-type frame (chars + '_' end marker), then per
    * round a pair-count CTE, a LIMIT-1 argmax CTE (count desc, pair asc —
    * the trainer's tie rule), and a rewrite CTE applying the merge as the
    * identical greedy left-to-right list_reduce fold the Spark side runs
    * with `aggregate`. */
  /** The shared BPE-training CTE chain (w0 … w`rounds`, p/m per round) —
    * used by both the train gate and the encode gate. Every round CTE is
    * MATERIALIZED: DuckDB inlines plain CTEs recursively and the chained
    * expansion goes exponential (>10 min vs 0.1 s at sf0.001). */
  private def bpeTrainCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (SELECT u.l AS l, u.r AS r, sum(cnt)::BIGINT AS c FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(syms)),
         |      i -> {'l': syms[i], 'r': syms[i + 1]})) AS u
         |    FROM w${r - 1} WHERE len(syms) >= 2) GROUP BY 1, 2),
         |m$r AS MATERIALIZED (SELECT l, r, c FROM p$r ORDER BY c DESC, l, r LIMIT 1),
         |w$r AS MATERIALIZED (SELECT cnt, list_reduce(list_transform(syms, s -> [s]),
         |    (acc, x) -> CASE WHEN acc[len(acc)] = m.l AND x[1] = m.r
         |      THEN list_append(list_slice(acc, 1, len(acc) - 1), m.l || m.r)
         |      ELSE list_concat(acc, x) END) AS syms
         |  FROM w${r - 1}, m$r m)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT count(*)::BIGINT AS cnt,
       |    list_append(list_transform(range(1, len(word) + 1), i -> word[i:i]), '_') AS syms
       |  FROM (SELECT unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS word
       |        FROM documents)
       |  WHERE regexp_matches(word, '^[a-z]{2,20}$$') GROUP BY word),
       |$roundCtes""".stripMargin
  }

  private def bpeOracle(rounds: Int): String = {
    val out = (1 to rounds).map(r =>
      s"""SELECT $r::BIGINT AS round, l AS "left", r AS "right",
         |  l || r AS merged, c AS pair_count FROM m$r""".stripMargin)
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeTrainCtes(rounds)}
       |$out ORDER BY round""".stripMargin
  }

  /** Encode replay: the per-(lang, word-type) frame folds the SAME merge
    * sequence (m1 … m`rounds` from the shared train chain), then one
    * per-lang rollup + distinct-subword count. */
  private def bpeEncodeOracle(rounds: Int): String = {
    val langCtes = (1 to rounds).map { r =>
      s"""lw$r AS MATERIALIZED (SELECT lang, cnt, list_reduce(list_transform(syms, s -> [s]),
         |    (acc, x) -> CASE WHEN acc[len(acc)] = m.l AND x[1] = m.r
         |      THEN list_append(list_slice(acc, 1, len(acc) - 1), m.l || m.r)
         |      ELSE list_concat(acc, x) END) AS syms
         |  FROM lw${r - 1}, m$r m)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeTrainCtes(rounds)},
       |lw0 AS MATERIALIZED (
       |  SELECT lang, count(*)::BIGINT AS cnt,
       |    list_append(list_transform(range(1, len(word) + 1), i -> word[i:i]), '_') AS syms
       |  FROM (SELECT lang, unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS word
       |        FROM documents)
       |  WHERE regexp_matches(word, '^[a-z]{2,20}$$') GROUP BY lang, word),
       |$langCtes,
       |per AS (SELECT lang, sum(cnt)::BIGINT AS n_words,
       |    sum(cnt * len(syms))::BIGINT AS n_subwords FROM lw$rounds GROUP BY lang),
       |voc AS (SELECT lang, count(*)::BIGINT AS subword_vocab FROM
       |  (SELECT DISTINCT lang, unnest(syms) AS s FROM lw$rounds) GROUP BY lang)
       |SELECT per.lang AS lang, n_words, n_subwords,
       |  round(n_subwords::DOUBLE / n_words, 6) AS fertility, subword_vocab
       |FROM per JOIN voc ON per.lang = voc.lang ORDER BY lang""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "bpe_train" -> bpeOracle(rounds = 6),
    "bpe_encode" -> bpeEncodeOracle(rounds = 6),
    "count_min" ->
      s"""WITH n AS (SELECT doc_id, $normToks AS toks FROM documents),
         |t0 AS (SELECT unnest(toks) AS tok FROM n),
         |t2 AS (SELECT tok FROM t0 WHERE length(tok) > 0),
         |ii AS (SELECT unnest([0, 1, 2, 3]) AS i),
         |sk AS (SELECT ii.i AS i,
         |    ('0x' || substr(md5(tok || '_cm_' || ii.i::VARCHAR), 1, 15))::BIGINT % 1024 AS slot,
         |    count(*)::BIGINT AS c
         |  FROM t2, ii GROUP BY 1, 2),
         |ex AS (SELECT tok, count(*)::BIGINT AS exact FROM t2 GROUP BY tok
         |  ORDER BY exact DESC, tok LIMIT 10),
         |exr AS (SELECT row_number() OVER (ORDER BY exact DESC, tok) AS rank,
         |  tok, exact FROM ex),
         |q AS (SELECT rank, tok, exact, ii.i AS i,
         |    ('0x' || substr(md5(tok || '_cm_' || ii.i::VARCHAR), 1, 15))::BIGINT % 1024 AS slot
         |  FROM exr, ii),
         |est AS (SELECT rank, q.tok AS term, q.exact AS exact, min(sk.c) AS est
         |  FROM q JOIN sk ON q.i = sk.i AND q.slot = sk.slot GROUP BY 1, 2, 3)
         |SELECT rank::BIGINT AS rank, term, exact, est,
         |  est - exact AS overestimate, est >= exact AS never_under
         |FROM est ORDER BY rank""".stripMargin,
    "kneser_ney" ->
      s"""WITH n AS (SELECT doc_id::BIGINT AS doc, $normToks AS toks FROM documents),
         |bg AS (SELECT doc, unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(0, len(toks)-1), i ->
         |      struct_pack(w1 := toks[i+1], w2 := toks[i+2]))
         |    ELSE [] END) AS b FROM n),
         |big AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*)::DOUBLE AS c2
         |  FROM bg WHERE doc < 250 GROUP BY 1, 2),
         |ctx AS (SELECT w1, sum(c2) AS ctot, count(*)::DOUBLE AS fan
         |  FROM big GROUP BY w1),
         |cont AS (SELECT w2, count(*)::DOUBLE AS cc FROM big GROUP BY w2),
         |tot AS (SELECT (SELECT count(*)::DOUBLE FROM big) AS b,
         |  (SELECT count(*)::DOUBLE FROM cont) AS vc),
         |sb AS (SELECT doc, b.w1 AS w1, b.w2 AS w2 FROM bg WHERE doc >= 250),
         |lp AS (SELECT sb.doc, ln(CASE WHEN ctx.ctot IS NULL
         |    THEN (coalesce(cont.cc, 0) + 1.0) / (tot.b + tot.vc)
         |    ELSE greatest(coalesce(big.c2, 0) - 0.75, 0) / ctx.ctot
         |      + 0.75 * ctx.fan / ctx.ctot
         |        * ((coalesce(cont.cc, 0) + 1.0) / (tot.b + tot.vc)) END) AS l
         |  FROM sb LEFT JOIN big ON sb.w1 = big.w1 AND sb.w2 = big.w2
         |    LEFT JOIN ctx ON sb.w1 = ctx.w1
         |    LEFT JOIN cont ON sb.w2 = cont.w2, tot)
         |SELECT doc, count(*)::BIGINT AS n_bigrams,
         |  round(exp(-sum(l) / count(*)), 4) AS ppl_kn
         |FROM lp GROUP BY doc ORDER BY doc""".stripMargin,
    "context_windows" ->
      s"""WITH $posTokCtes,
         |pr AS (SELECT a.tok AS center, b.tok AS context
         |  FROM tk a JOIN tk b ON a.doc = b.doc
         |    AND b.pos IN (a.pos - 2, a.pos - 1, a.pos + 1, a.pos + 2))
         |SELECT center, context, count(*)::BIGINT AS n
         |FROM pr GROUP BY 1, 2 ORDER BY n DESC, center, context LIMIT 20""".stripMargin,
    "negative_sampling" ->
      s"""WITH $posTokCtes,
         |gv AS (SELECT tok, count(*)::DOUBLE AS c FROM tk GROUP BY tok
         |  ORDER BY c DESC, tok LIMIT 100),
         |v AS (SELECT tok, round(power(c, 0.75), 6) AS w FROM gv),
         |cdf AS (SELECT tok, w, coalesce(sum(w) OVER (ORDER BY w DESC, tok
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo FROM v),
         |c2 AS (SELECT tok, lo, lo + w AS hi FROM cdf),
         |t AS (SELECT sum(w) AS tot FROM v),
         |dr AS (SELECT ('0x' || substr(md5(doc::VARCHAR || '_' || pos::VARCHAR || '_ns_' || j::VARCHAR), 1, 15))::BIGINT
         |      % 1000000 / 1000000.0 * t.tot AS u
         |  FROM tk, (SELECT unnest([1, 2]) AS j) jj, t)
         |SELECT c2.tok AS tok, count(*)::BIGINT AS n_sampled
         |FROM dr JOIN c2 ON dr.u >= c2.lo AND dr.u < c2.hi
         |GROUP BY 1 ORDER BY n_sampled DESC, tok LIMIT 15""".stripMargin,
    "tfidf_pairs" ->
      s"""WITH n AS (SELECT doc_id, $normToks AS toks FROM documents),
         |t0 AS (SELECT doc_id AS doc, unnest(toks) AS term FROM n),
         |t AS (SELECT doc, term, count(*)::DOUBLE AS tf FROM t0
         |  WHERE length(term) > 0 GROUP BY 1, 2),
         |nd AS (SELECT count(*)::DOUBLE AS nd FROM documents),
         |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM t GROUP BY term),
         |dfk AS (SELECT term, df FROM dfq, nd WHERE df <= nd * 0.5),
         |w AS (SELECT t.doc, t.term, t.tf * ln(nd.nd / dfk.df) AS w
         |  FROM t JOIN dfk USING (term), nd),
         |nrm AS (SELECT doc, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc),
         |dots AS (SELECT a.doc AS d1, b.doc AS d2, sum(a.w * b.w) AS dot
         |  FROM w a JOIN w b ON a.term = b.term AND a.doc < b.doc GROUP BY 1, 2)
         |SELECT d1::BIGINT AS d1, d2::BIGINT AS d2,
         |  round(dot / (n1.nrm * n2.nrm), 6) AS cosine
         |FROM dots JOIN nrm n1 ON dots.d1 = n1.doc JOIN nrm n2 ON dots.d2 = n2.doc
         |ORDER BY cosine DESC, d1, d2 LIMIT 20""".stripMargin,
    "oov_rate" ->
      s"""WITH n AS (SELECT doc_id, lang, $normToks AS toks FROM documents),
         |t0 AS (SELECT doc_id, lang, unnest(toks) AS tok FROM n),
         |t AS (SELECT * FROM t0 WHERE length(tok) > 0),
         |v AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM t GROUP BY tok
         |    ORDER BY c DESC, tok LIMIT 500)),
         |pd AS (SELECT t.doc_id, t.lang, count(*)::DOUBLE AS nt,
         |    sum(CASE WHEN v.tok IS NULL THEN 1.0 ELSE 0.0 END) AS oov
         |  FROM t LEFT JOIN v ON t.tok = v.tok GROUP BY 1, 2)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  round(avg(oov / nt), 6) AS avg_oov_rate,
         |  round(max(oov / nt), 6) AS max_oov_rate
         |FROM pd GROUP BY lang ORDER BY lang""".stripMargin,
    "nb_fit" ->
      s"""WITH $nbTrainCtes,
         |cv AS (SELECT class, count(DISTINCT tok)::BIGINT AS class_vocab,
         |    count(*)::BIGINT AS n_tokens FROM trt GROUP BY 1)
         |SELECT cv.class AS class, nd.ndoc::BIGINT AS n_docs, cv.n_tokens,
         |  cv.class_vocab, round(ln(nd.ndoc / ntr.ntr), 6) AS log_prior
         |FROM cv JOIN nd USING (class), ntr ORDER BY class""".stripMargin,
    "naive_bayes" ->
      s"""WITH $nbTrainCtes,
         |cls AS (SELECT tot.class, tot.tot, vv.v, ln(nd.ndoc / ntr.ntr) AS lp
         |  FROM tot JOIN nd USING (class), vv, ntr),
         |tt0 AS (SELECT doc, truth, unnest(toks) AS tok FROM b WHERE sp = 'test'),
         |tt AS (SELECT doc, truth, tok, count(*)::DOUBLE AS tf FROM tt0
         |  WHERE length(tok) > 0 GROUP BY 1, 2, 3),
         |sc AS (SELECT tt.doc, tt.truth, cls.class, cls.lp,
         |    tt.tf * (ln(coalesce(ct.ctk, 0) + 1.0) - ln(cls.tot + cls.v)) AS c
         |  FROM tt CROSS JOIN cls
         |  LEFT JOIN ct ON ct.class = cls.class AND ct.tok = tt.tok),
         |dc AS (SELECT doc, truth, class, max(lp) + sum(c) AS score
         |  FROM sc GROUP BY 1, 2, 3),
         |pr AS (SELECT doc, truth, class, row_number()
         |    OVER (PARTITION BY doc ORDER BY round(score, 6) DESC, class) AS rn
         |  FROM dc)
         |SELECT truth, class AS pred, count(*)::BIGINT AS n
         |FROM pr WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash,
        |  min(doc_id)::BIGINT AS keeper_id, count(*)::BIGINT AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "dedup_segments" ->
      s"""WITH n AS (SELECT doc_id::BIGINT AS doc, $normToks AS w FROM documents),
         |segs AS (SELECT doc, g.i AS i,
         |    array_to_string(list_slice(w, g.i*3+1, g.i*3+3), ' ') AS seg
         |  -- 4000 = constant lateral bound (generate_series cannot take
         |  -- len(w) as its bound); WHERE keeps the real segment count
         |  FROM n, generate_series(0, 4000) AS g(i) WHERE g.i*3 < len(w)),
         |m AS (SELECT doc, i, seg,
         |    count(*) OVER (PARTITION BY seg) AS cnt,
         |    row_number() OVER (PARTITION BY seg ORDER BY doc, i) AS rn
         |  FROM segs),
         |kept AS (SELECT doc, i, seg FROM m WHERE cnt < 2 OR rn = 1),
         |agg AS (SELECT doc, count(*)::BIGINT AS n_kept,
         |    md5(string_agg(seg, ' ' ORDER BY i)) AS clean_hash
         |  FROM kept GROUP BY doc),
         |tot AS (SELECT doc, count(*)::BIGINT AS n_segs FROM segs GROUP BY doc)
         |SELECT t.doc, t.n_segs, coalesce(a.n_kept, 0::BIGINT) AS n_kept,
         |  coalesce(a.clean_hash, md5('')) AS clean_hash
         |FROM tot t LEFT JOIN agg a USING (doc) ORDER BY doc""".stripMargin,
    "dedup_span" ->
      s"""WITH n AS (SELECT doc_id::BIGINT AS doc, $normToks AS w FROM documents),
         |b AS (SELECT doc, w, len(w)::BIGINT AS n_tokens FROM n),
         |-- per-row window starts via unnest(range(...)) — derived from the
         |-- ACTUAL doc length, so a longer-than-expected generator document
         |-- can never silently drop windows (r10 advice; the former constant
         |-- generate_series(0, 200) bound assumed ~100-token docs)
         |w0 AS (SELECT doc, n_tokens, w,
         |    unnest(range(0, greatest(n_tokens - 4, 0))) AS i FROM b),
         |wins AS (SELECT doc, n_tokens, i,
         |    md5(array_to_string(list_slice(w, i + 1, i + 5), ' ')) AS key
         |  FROM w0),
         |dup AS (SELECT key FROM wins GROUP BY key HAVING count(*) >= 2),
         |dw AS (SELECT doc, i FROM wins JOIN dup USING (key)),
         |sp AS (SELECT doc, i,
         |    CASE WHEN lag(i) OVER (PARTITION BY doc ORDER BY i) IS NULL
         |         OR i - lag(i) OVER (PARTITION BY doc ORDER BY i) > 5
         |    THEN 1 ELSE 0 END AS ns
         |  FROM dw),
         |sp2 AS (SELECT doc, i, sum(ns) OVER (PARTITION BY doc ORDER BY i
         |    ROWS UNBOUNDED PRECEDING) AS sid FROM sp),
         |spans AS (SELECT doc, sid, min(i) AS s, max(i) + 4 AS e,
         |    count(*) AS nw FROM sp2 GROUP BY 1, 2),
         |agg AS (SELECT doc, count(*)::BIGINT AS n_spans,
         |    sum(e - s + 1)::BIGINT AS dup_tokens,
         |    sum(nw)::BIGINT AS n_dup_windows FROM spans GROUP BY doc)
         |SELECT b.doc, b.n_tokens,
         |  greatest(b.n_tokens - 4, 0)::BIGINT AS n_windows,
         |  coalesce(a.n_dup_windows, 0::BIGINT) AS n_dup_windows,
         |  coalesce(a.n_spans, 0::BIGINT) AS n_spans,
         |  coalesce(a.dup_tokens, 0::BIGINT) AS dup_tokens,
         |  round(coalesce(a.dup_tokens, 0)::DOUBLE / b.n_tokens, 6) AS dup_frac
         |FROM b LEFT JOIN agg a USING (doc) ORDER BY doc""".stripMargin,
    "hashed_ngram_score" ->
      s"""WITH n AS (SELECT doc_id::BIGINT AS doc, $normToks AS toks FROM documents),
         |g AS (SELECT doc,
         |    len(toks) + greatest(len(toks) - 1, 0) AS n_grams,
         |    coalesce(list_sum(list_transform(toks, t ->
         |      (((('0x' || substr(md5(t), 1, 15))::BIGINT % 256) * 2654435761) % 1997)::DOUBLE / 1997.0 - 0.5)), 0.0)
         |    + coalesce(list_sum(list_transform(range(0, len(toks) - 1), i ->
         |      (((('0x' || substr(md5(toks[i+1] || '_' || toks[i+2]), 1, 15))::BIGINT % 256) * 2654435761) % 1997)::DOUBLE / 1997.0 - 0.5)), 0.0)
         |    AS s
         |  FROM n)
         |SELECT doc, n_grams::BIGINT AS n_grams,
         |  round(1.0 / (1.0 + exp(-(0.1 + s))), 6) AS score
         |FROM g ORDER BY doc""".stripMargin,
    "tfidf_top_terms" ->
      s"""WITH n AS (SELECT doc_id::BIGINT AS doc, $normToks AS w FROM documents),
         |t AS (SELECT doc, unnest(w) AS term FROM n),
         |tf AS (SELECT doc, term, count(*)::DOUBLE AS tf FROM t GROUP BY doc, term),
         |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
         |nn AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
         |s AS (SELECT tf.doc, tf.term, tf.tf * ln(nn.n_docs / dfq.df) AS score
         |  FROM tf JOIN dfq ON tf.term = dfq.term, nn),
         |r AS (SELECT doc, term, score,
         |    row_number() OVER (PARTITION BY doc ORDER BY score DESC, term) AS rk
         |  FROM s)
         |SELECT doc, rk::BIGINT AS rank, term, round(score, 6) AS score
         |FROM r WHERE rk <= 3 ORDER BY doc, rank""".stripMargin,
    "domain_cap" ->
      """WITH r AS (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM documents)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN rn <= 15 THEN 1 ELSE 0 END)::BIGINT AS n_kept
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "chunk_documents" ->
      s"""WITH n AS (SELECT doc_id::BIGINT AS doc, $normToks AS toks FROM documents),
         |m AS (SELECT doc, toks, len(toks)::BIGINT AS n FROM n),
         |c AS (SELECT doc, toks, n,
         |    CASE WHEN n <= 64 THEN 1
         |         ELSE 1 + CAST(ceil((n - 64) / 48.0) AS BIGINT) END AS n_chunks
         |  FROM m),
         |e AS (SELECT doc, toks, n, unnest(range(0, n_chunks)) AS chunk FROM c),
         |s AS (SELECT doc, chunk, chunk * 48 AS start_tok,
         |    least(64, n - chunk * 48) AS n_tok, toks FROM e)
         |SELECT doc, chunk::BIGINT AS chunk, start_tok::BIGINT AS start_tok,
         |  n_tok::BIGINT AS n_tok,
         |  md5(array_to_string(toks[(start_tok + 1):(start_tok + n_tok)], ' ')) AS chunk_md5
         |FROM s ORDER BY doc, chunk""".stripMargin,
    "heavy_hitters" ->
      s"""WITH n AS (SELECT $normToks AS toks FROM documents),
         |t AS (SELECT unnest(toks) AS term FROM n),
         |c AS (SELECT term, count(*) AS n FROM t GROUP BY term),
         |tot AS (SELECT sum(n)::DOUBLE AS tt FROM c),
         |r AS (SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS rank FROM c)
         |SELECT rank::BIGINT AS rank, term, n::BIGINT AS n,
         |  round(n / tot.tt, 6) AS share
         |FROM r, tot WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // the sketch-pruned exact-verified answer IS the true heavy-hitter
    // set — full replay, no sketch internals in the output
    "heavy_hitters_approx" ->
      s"""WITH n AS (SELECT $normToks AS toks FROM documents),
         |t AS (SELECT unnest(toks) AS term FROM n),
         |c AS (SELECT term, count(*) AS n FROM t GROUP BY term),
         |tot AS (SELECT sum(n)::DOUBLE AS tt FROM c)
         |SELECT term, n::BIGINT AS n FROM c, tot WHERE n > 0.01 * tt
         |ORDER BY n DESC, term""".stripMargin,
    // approx-percentile partial gate: lang + exact doc count + spec's
    // error-bound booleans
    "doc_length_stats_approx" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  TRUE AS p50_close, TRUE AS p90_close
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "pmi_collocations" ->
      s"""WITH n AS (SELECT doc_id::BIGINT AS doc, $normToks AS toks FROM documents),
         |t AS (SELECT unnest(toks) AS tok FROM n),
         |uni AS (SELECT tok, count(*) AS c1 FROM t GROUP BY tok),
         |nt AS (SELECT count(*)::DOUBLE AS n_tok FROM t),
         |b0 AS (SELECT unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(0, len(toks)-1), i ->
         |      struct_pack(w1 := toks[i+1], w2 := toks[i+2]))
         |    ELSE [] END) AS b FROM n),
         |bi AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c2 FROM b0
         |  GROUP BY b.w1, b.w2 HAVING count(*) >= 3),
         |p AS (SELECT bi.w1, bi.w2, bi.c2,
         |    ln(nt.n_tok * bi.c2 / (ua.c1::DOUBLE * ub.c1::DOUBLE)) AS pmi
         |  FROM bi JOIN uni ua ON bi.w1 = ua.tok JOIN uni ub ON bi.w2 = ub.tok, nt)
         |SELECT w1, w2, c2::BIGINT AS n_pair, round(pmi, 6) AS pmi
         |FROM p ORDER BY round(pmi, 6) DESC, w1, w2 LIMIT 20""".stripMargin,
    "bigram_perplexity" ->
      s"""WITH n AS (SELECT doc_id::BIGINT AS doc, $normToks AS toks FROM documents),
         |trt AS (SELECT unnest(toks) AS tok FROM n WHERE doc < 250),
         |uni AS (SELECT tok, count(*) AS c1 FROM trt GROUP BY tok),
         |vv AS (SELECT count(*)::DOUBLE AS v FROM uni),
         |trb AS (SELECT unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(0, len(toks)-1), i -> toks[i+1] || '_' || toks[i+2])
         |    ELSE [] END) AS sh FROM n WHERE doc < 250),
         |big AS (SELECT sh, count(*) AS c2 FROM trb GROUP BY sh),
         |sb0 AS (SELECT doc, unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(0, len(toks)-1), i ->
         |      struct_pack(w1 := toks[i+1], sh := toks[i+1] || '_' || toks[i+2]))
         |    ELSE [] END) AS b FROM n WHERE doc >= 250),
         |sb AS (SELECT doc, b.w1 AS w1, b.sh AS sh FROM sb0),
         |lp AS (SELECT sb.doc,
         |    ln((coalesce(big.c2, 0) + 1.0) / (coalesce(uni.c1, 0) + vv.v)) AS l
         |  FROM sb LEFT JOIN uni ON sb.w1 = uni.tok
         |    LEFT JOIN big ON sb.sh = big.sh, vv)
         |SELECT doc, count(*)::BIGINT AS n_bigrams,
         |  round(exp(-sum(l) / count(*)), 4) AS ppl
         |FROM lp GROUP BY doc ORDER BY doc""".stripMargin,
    "bm25_search" ->
      s"""WITH n AS (SELECT doc_id::BIGINT AS doc, $normToks AS w FROM documents),
         |d AS (SELECT doc, len(w)::DOUBLE AS dl, w FROM n),
         |st AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM d),
         |t AS (SELECT doc, dl, unnest(w) AS term FROM d),
         |tf AS (SELECT doc, dl, term, count(*)::DOUBLE AS tf FROM t
         |  WHERE term IN ('hash', 'scan', 'merge') GROUP BY doc, dl, term),
         |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
         |s AS (SELECT tf.doc,
         |    sum(ln(1.0::DOUBLE + (st.n_docs - dfq.df + 0.5::DOUBLE) / (dfq.df + 0.5::DOUBLE))
         |      * tf.tf * (1.2::DOUBLE + 1.0::DOUBLE)
         |      / (tf.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
         |          + 0.75::DOUBLE * tf.dl / st.avgdl))) AS score
         |  FROM tf JOIN dfq ON tf.term = dfq.term, st GROUP BY tf.doc)
         |SELECT doc, round(score, 6) AS score
         |FROM (SELECT doc, score FROM s ORDER BY score DESC, doc LIMIT 10)
         |ORDER BY doc""".stripMargin,
    "rrf_fusion" ->
      s"""WITH n AS (SELECT doc_id::BIGINT AS doc, $normToks AS w FROM documents),
         |d AS (SELECT doc, len(w)::DOUBLE AS dl, w FROM n),
         |st AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM d),
         |t AS (SELECT doc, dl, unnest(w) AS term FROM d),
         |tf AS (SELECT doc, dl, term, count(*)::DOUBLE AS tf FROM t
         |  WHERE term IN ('hash', 'scan', 'merge') GROUP BY doc, dl, term),
         |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
         |s AS (SELECT tf.doc,
         |    sum(ln(1.0::DOUBLE + (st.n_docs - dfq.df + 0.5::DOUBLE) / (dfq.df + 0.5::DOUBLE))
         |      * tf.tf * (1.2::DOUBLE + 1.0::DOUBLE)
         |      / (tf.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
         |          + 0.75::DOUBLE * tf.dl / st.avgdl))) AS score
         |  FROM tf JOIN dfq ON tf.term = dfq.term, st GROUP BY tf.doc),
         |lex AS (SELECT doc, row_number() OVER (ORDER BY score DESC, doc) AS lrank
         |  FROM (SELECT doc, score FROM s ORDER BY score DESC, doc LIMIT 20)),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT b.vec_id AS doc,
         |    list_dot_product(a.v, b.v)
         |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cs
         |  FROM e a JOIN e b ON a.vec_id = 0),
         |sem AS (SELECT doc, srank FROM (
         |    SELECT doc, row_number() OVER (ORDER BY cs DESC, doc) AS srank FROM p)
         |  WHERE srank <= 20),
         |f AS (SELECT coalesce(lex.doc, sem.doc) AS doc,
         |    coalesce(1.0 / (60.0 + lrank), 0.0) + coalesce(1.0 / (60.0 + srank), 0.0) AS rrf,
         |    lrank IS NOT NULL AS in_lex, srank IS NOT NULL AS in_sem
         |  FROM lex FULL OUTER JOIN sem ON lex.doc = sem.doc)
         |SELECT doc::BIGINT AS doc, round(rrf, 6) AS rrf, in_lex, in_sem
         |FROM (SELECT * FROM f ORDER BY rrf DESC, doc LIMIT 10) ORDER BY doc""".stripMargin,
    "pii_mask" ->
      """WITH p AS (SELECT doc_id::BIGINT AS doc,
        |    text || ' contact user' || doc_id || '@example.com from 192.168.' ||
        |    (doc_id % 256) || '.7 or call 55512' || (doc_id + 34567) AS t
        |  FROM documents)
        |SELECT doc,
        |  len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
        |  len(regexp_extract_all(t, '\d{7,}'))::BIGINT AS n_nums,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\d{7,}', '<NUM>', 'g')) AS masked_hash
        |FROM p ORDER BY doc""".stripMargin,
    "dedup_bloom" ->
      """WITH nrm AS (SELECT doc_id, lang,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
        |  FROM documents),
        |ii AS (SELECT unnest([0, 1, 2]) AS i),
        |bits AS (SELECT DISTINCT
        |    ('0x' || substr(md5(h || '_bloom_' || i), 1, 15))::BIGINT % 262144 AS pos
        |  FROM nrm, ii WHERE doc_id < 250),
        |probes AS (SELECT doc_id,
        |    ('0x' || substr(md5(h || '_bloom_' || i), 1, 15))::BIGINT % 262144 AS pos
        |  FROM nrm, ii WHERE doc_id >= 250),
        |maybe AS (SELECT doc_id FROM (
        |    SELECT p.doc_id, count(*) AS nhit
        |    FROM probes p JOIN bits USING (pos) GROUP BY p.doc_id)
        |  WHERE nhit = 3),
        |dup AS (SELECT doc_id FROM nrm WHERE doc_id >= 250
        |  AND h IN (SELECT h FROM nrm WHERE doc_id < 250))
        |SELECT n.lang AS lang, count(*)::BIGINT AS n_new,
        |  sum(CASE WHEN mb.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_definitely_new,
        |  sum(CASE WHEN mb.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_maybe_dup,
        |  sum(CASE WHEN dp.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_true_dup,
        |  (sum(CASE WHEN mb.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |   - sum(CASE WHEN dp.doc_id IS NOT NULL THEN 1 ELSE 0 END))::BIGINT AS n_false_pos
        |FROM nrm n LEFT JOIN maybe mb ON n.doc_id = mb.doc_id
        |  LEFT JOIN dup dp ON n.doc_id = dp.doc_id
        |WHERE n.doc_id >= 250
        |GROUP BY 1 ORDER BY lang""".stripMargin,
    "dedup_incremental" ->
      """WITH nrm AS (SELECT doc_id, lang,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
        |  FROM documents),
        |priorh AS (SELECT DISTINCT h FROM nrm WHERE doc_id < 250),
        |k AS (SELECT lang, h, count(*) AS copies FROM nrm WHERE doc_id >= 250
        |  GROUP BY lang, h),
        |ing AS (SELECT lang, count(*) AS n_ing FROM k
        |  WHERE h NOT IN (SELECT h FROM priorh) GROUP BY lang),
        |agg AS (SELECT lang, sum(copies)::BIGINT AS n_new,
        |    (sum(copies) - count(*))::BIGINT AS n_dup_within
        |  FROM k GROUP BY lang)
        |SELECT agg.lang AS lang, n_new, n_dup_within,
        |  (n_new - n_dup_within - coalesce(n_ing, 0))::BIGINT AS n_dup_vs_prior,
        |  coalesce(n_ing, 0)::BIGINT AS n_ingested
        |FROM agg LEFT JOIN ing ON agg.lang = ing.lang ORDER BY lang""".stripMargin,
    "tokenizer_fertility" -> {
      val vocabIn = FertilityVocab.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT lang, unnest($normToks) AS w FROM documents),
         |f AS (SELECT lang, CASE WHEN w IN ($vocabIn) THEN 1::BIGINT
         |    ELSE ceil(len(w) / 4.0)::BIGINT END AS t
         |  FROM t WHERE len(w) > 0)
         |SELECT lang, count(*)::BIGINT AS n_words, sum(t)::BIGINT AS n_tokens,
         |  round(sum(t)::DOUBLE / count(*), 4) AS fertility
         |FROM f GROUP BY lang ORDER BY lang""".stripMargin
    },
    "dedup_url" ->
      s"""WITH u AS (SELECT doc_id, lower(
         |    CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END
         |    || source || '.example.com'
         |    || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
         |    || '/articles/' || (doc_id % 40)::VARCHAR
         |    || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
         |    || CASE WHEN doc_id % 2 = 0
         |         THEN '?utm_source=feed&utm_campaign=' || (doc_id % 9)::VARCHAR ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS u1
         |  FROM documents),
         |c AS (SELECT
         |    regexp_extract(u1, '^https?://(?:www\\.)?([^/:?#]+)', 1) AS host,
         |    regexp_replace(regexp_replace(
         |      regexp_replace(u1, '^https?://[^/?#]*', ''), '[?#].*$$', ''), '/$$', '') AS path
         |  FROM u)
         |SELECT host, count(*)::BIGINT AS n_urls,
         |  count(DISTINCT host || path)::BIGINT AS n_canonical,
         |  (count(*) - count(DISTINCT host || path))::BIGINT AS n_dup
         |FROM c GROUP BY host ORDER BY host""".stripMargin,
    "dedup_minhash" ->
      s"""WITH n AS (SELECT doc_id, $normToks AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
         |    THEN list_transform(range(0, len(toks)-2), i -> toks[i+1] || '_' || toks[i+2] || '_' || toks[i+3])
         |    ELSE [] END) AS s FROM n),
         |h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS hv FROM sh)
         |SELECT doc_id::BIGINT AS doc,
         |  min((1103515245*hv+12345) % 2147483647)::BIGINT AS mh0,
         |  min((69069*hv+362437) % 2147483647)::BIGINT AS mh1,
         |  min((1664525*hv+1013904223) % 2147483647)::BIGINT AS mh2,
         |  min((22695477*hv+1) % 2147483647)::BIGINT AS mh3,
         |  min((134775813*hv+1) % 2147483647)::BIGINT AS mh4,
         |  min((214013*hv+2531011) % 2147483647)::BIGINT AS mh5,
         |  min((75*hv+74) % 2147483647)::BIGINT AS mh6,
         |  min((1103515247*hv+54321) % 2147483647)::BIGINT AS mh7
         |FROM h GROUP BY doc_id ORDER BY doc""".stripMargin,
    "dedup_minhash_pairs" ->
      s"""WITH $minhashPairsCtes
         |SELECT doc1::BIGINT AS doc1, doc2::BIGINT AS doc2
         |FROM pr ORDER BY doc1, doc2""".stripMargin,
    "dedup_minhash_auto" ->
      s"""WITH $minhashAutoPairsCtes
         |SELECT doc1::BIGINT AS doc1, doc2::BIGINT AS doc2
         |FROM pr ORDER BY doc1, doc2""".stripMargin,
    "dedup_edit" ->
      s"""WITH $minhashAutoPairsCtes,
         |nt AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
         |  FROM documents)
         |SELECT pr.doc1::BIGINT AS doc1, pr.doc2::BIGINT AS doc2,
         |  levenshtein(a.t, b.t)::BIGINT AS edit_dist,
         |  round(levenshtein(a.t, b.t)::DOUBLE / NULLIF(greatest(length(a.t), length(b.t)), 0)::DOUBLE, 4) AS edit_ratio,
         |  round(levenshtein(a.t, b.t)::DOUBLE / NULLIF(greatest(length(a.t), length(b.t)), 0)::DOUBLE, 4) <= 0.2 AS is_dup
         |FROM pr JOIN nt a ON pr.doc1 = a.doc_id JOIN nt b ON pr.doc2 = b.doc_id
         |ORDER BY doc1, doc2""".stripMargin,
    "bleu_score" ->
      s"""WITH $minhashPairsCtes,
         |n2 AS (SELECT doc_id, $normToks AS toks FROM documents),
         |g1 AS (SELECT doc_id AS doc, unnest(toks) AS g FROM n2),
         |g2 AS (SELECT doc_id AS doc, unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(0, len(toks)-1), i -> toks[i+1] || '_' || toks[i+2])
         |    ELSE [] END) AS g FROM n2),
         |cu AS MATERIALIZED (SELECT doc, g, count(*)::DOUBLE AS c FROM g1 GROUP BY doc, g),
         |cb AS MATERIALIZED (SELECT doc, g, count(*)::DOUBLE AS c FROM g2 GROUP BY doc, g),
         |s1 AS (SELECT sum(least(c2.c, coalesce(c1.c, 0.0))) AS clip1, sum(c2.c) AS tot1
         |  FROM pr JOIN cu c2 ON pr.doc2 = c2.doc
         |  LEFT JOIN cu c1 ON pr.doc1 = c1.doc AND c2.g = c1.g),
         |s2 AS (SELECT sum(least(c2.c, coalesce(c1.c, 0.0))) AS clip2, sum(c2.c) AS tot2
         |  FROM pr JOIN cb c2 ON pr.doc2 = c2.doc
         |  LEFT JOIN cb c1 ON pr.doc1 = c1.doc AND c2.g = c1.g),
         |lns AS (SELECT doc, sum(c) AS l FROM cu GROUP BY doc),
         |la AS (SELECT sum(l2.l) AS c, sum(l1.l) AS r, count(*)::BIGINT AS np
         |  FROM pr JOIN lns l2 ON pr.doc2 = l2.doc JOIN lns l1 ON pr.doc1 = l1.doc),
         |f AS (SELECT np, clip1, clip2, clip1 / tot1 AS p1, clip2 / tot2 AS p2,
         |    CASE WHEN c > r THEN 1.0 ELSE exp(1.0 - r / c) END AS bp
         |  FROM la, s1, s2)
         |SELECT np AS n_pairs, round(p1, 4) AS p1, round(p2, 4) AS p2,
         |  round(bp, 4) AS brevity,
         |  round(CASE WHEN clip1 > 0.0 AND clip2 > 0.0
         |    THEN bp * exp(0.5 * ln(p1) + 0.5 * ln(p2)) ELSE 0.0 END, 4) AS bleu2
         |FROM f""".stripMargin,
    "yule_k" ->
      s"""WITH tk AS (SELECT unnest($normToks) AS tok FROM documents),
         |tf AS (SELECT tok, count(*)::DOUBLE AS c FROM tk WHERE length(tok) > 0 GROUP BY tok),
         |g AS (SELECT count(*)::DOUBLE AS v, sum(c) AS n, sum(c * c) AS s2 FROM tf)
         |SELECT n::BIGINT AS n_tokens, v::BIGINT AS vocab, round(v / n, 4) AS ttr,
         |  round(10000.0 * (s2 - n) / (n * n), 4) AS yule_k FROM g""".stripMargin,
    "ngram_novelty" ->
      s"""WITH n3 AS (SELECT doc_id::BIGINT AS doc, $normToks AS toks FROM documents),
         |sh AS (SELECT doc, unnest(CASE WHEN len(toks) >= 3
         |    THEN list_transform(range(0, len(toks)-2), i -> toks[i+1] || '_' || toks[i+2] || '_' || toks[i+3])
         |    ELSE [] END) AS s FROM n3),
         |ty AS (SELECT DISTINCT doc, s FROM sh),
         |fd AS (SELECT s, min(doc) AS f FROM sh GROUP BY s),
         |pd AS (SELECT doc, count(*)::DOUBLE AS nt FROM ty GROUP BY doc),
         |nv AS (SELECT ty.doc, count(*)::DOUBLE AS nn FROM ty
         |  JOIN fd ON ty.s = fd.s AND ty.doc = fd.f GROUP BY ty.doc)
         |SELECT pd.doc, pd.nt::BIGINT AS n_types, coalesce(nv.nn, 0.0)::BIGINT AS n_novel,
         |  round(coalesce(nv.nn, 0.0) / pd.nt, 4) AS novelty
         |FROM pd LEFT JOIN nv ON pd.doc = nv.doc ORDER BY pd.doc""".stripMargin,
    "zipf_fit" ->
      s"""WITH tk AS (SELECT unnest($normToks) AS tok FROM documents),
         |tf AS (SELECT tok, count(*)::DOUBLE AS c FROM tk WHERE length(tok) > 0 GROUP BY tok),
         |vv AS (SELECT count(*)::BIGINT AS v FROM tf),
         |tp AS (SELECT tok, c FROM tf ORDER BY c DESC, tok LIMIT 200),
         |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok)::DOUBLE AS r FROM tp),
         |p AS (SELECT ln(r) AS x, ln(c) AS y FROM rk),
         |g AS (SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         |  sum(x * y) AS sxy, sum(x * x) AS sxx FROM p),
         |f AS (SELECT n, sx, sy, (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b FROM g)
         |SELECT n::BIGINT AS n_terms, vv.v AS vocab_size, round(b, 4) AS zipf_slope,
         |  round(sy / n - b * (sx / n), 4) AS intercept FROM f, vv""".stripMargin,
    "heaps_law" ->
      s"""WITH n3 AS (SELECT doc_id::BIGINT AS doc, $normToks AS toks FROM documents),
         |tk2 AS (SELECT doc, unnest(CASE WHEN len(toks) >= 3
         |    THEN list_transform(range(0, len(toks)-2), i -> toks[i+1] || '_' || toks[i+2] || '_' || toks[i+3])
         |    ELSE [] END) AS tok FROM n3),
         |pd AS (SELECT doc, count(*)::DOUBLE AS nt FROM tk2 GROUP BY doc),
         |fd AS (SELECT tok, min(doc) AS f FROM tk2 GROUP BY tok),
         |mx AS (SELECT max(doc_id)::BIGINT AS m FROM documents),
         |cp AS (SELECT k, floor(mx.m * k / 10.0)::BIGINT AS ck FROM range(1, 11) t(k), mx),
         |nk AS (SELECT cp.k, sum(pd.nt) AS n FROM pd JOIN cp ON pd.doc <= cp.ck GROUP BY cp.k),
         |vk AS (SELECT cp.k, count(*)::DOUBLE AS v FROM fd JOIN cp ON fd.f <= cp.ck GROUP BY cp.k),
         |p AS (SELECT ln(nk.n) AS x, ln(vk.v) AS y FROM nk JOIN vk ON nk.k = vk.k),
         |g AS (SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         |  sum(x * y) AS sxy, sum(x * x) AS sxx FROM p),
         |f AS (SELECT n, sx, sy, (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b FROM g)
         |SELECT n::BIGINT AS n_points, round(b, 4) AS heaps_beta,
         |  round(exp(sy / n - b * (sx / n)), 4) AS heaps_k FROM f""".stripMargin,
    "dedup_clusters" -> {
      // 8 min-label propagation rounds over the candidate-pair graph,
      // mirroring graft.graph.ConnectedComponents.propagate round-for-round.
      // MATERIALIZED is load-bearing: DuckDB inlines CTEs by default, and
      // each round references the previous one twice — un-materialized,
      // the pairs chain would be re-expanded 2^8 times.
      val rounds = (1 to 8).map { k =>
        s"""c$k AS MATERIALIZED (SELECT c.node, least(c.label, coalesce(min(n.label), c.label)) AS label
           |  FROM c${k - 1} c LEFT JOIN e ON c.node = e.src LEFT JOIN c${k - 1} n ON e.dst = n.node
           |  GROUP BY c.node, c.label)""".stripMargin
      }.mkString(",\n")
      s"""WITH $minhashPairsCtes,
         |e AS MATERIALIZED (SELECT doc1 AS src, doc2 AS dst FROM pr
         |  UNION ALL SELECT doc2, doc1 FROM pr),
         |c0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e),
         |$rounds
         |SELECT node::BIGINT AS doc, label::BIGINT AS keeper FROM c8 ORDER BY doc""".stripMargin
    },
    "dedup_near_keep_best" -> {
      val rounds = (1 to 8).map { k =>
        s"""c$k AS MATERIALIZED (SELECT c.node, least(c.label, coalesce(min(n.label), c.label)) AS label
           |  FROM c${k - 1} c LEFT JOIN e ON c.node = e.src LEFT JOIN c${k - 1} n ON e.dst = n.node
           |  GROUP BY c.node, c.label)""".stripMargin
      }.mkString(",\n")
      val stop = TextOps.EnStop.map(w => s"'$w'").mkString(", ")
      s"""WITH $minhashPairsCtes,
         |e AS MATERIALIZED (SELECT doc1 AS src, doc2 AS dst FROM pr
         |  UNION ALL SELECT doc2, doc1 FROM pr),
         |c0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e),
         |$rounds,
         |qn AS (SELECT doc_id, text, lang, string_split(text, ' ') AS qtoks FROM documents),
         |qf AS (SELECT doc_id, lang,
         |  len(qtoks)::DOUBLE AS n_tokens, length(text)::DOUBLE AS n_chars,
         |  length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE AS alpha,
         |  len(list_distinct(qtoks))::DOUBLE AS uniq,
         |  len(list_filter(qtoks, t -> t IN ($stop)))::DOUBLE AS stop
         | FROM qn),
         |qq AS (SELECT doc_id::BIGINT AS doc, lang,
         |  round(least(1.0, (uniq / n_tokens) * 0.5 + (alpha / n_chars) * 0.3 +
         |    least(stop / n_tokens * 5.0, 1.0) * 0.2), 4) AS quality
         |  FROM qf),
         |j AS (SELECT qq.doc, qq.lang, qq.quality, coalesce(c8.label, qq.doc) AS cl
         |  FROM qq LEFT JOIN c8 ON qq.doc = c8.node),
         |r AS (SELECT lang, quality,
         |    row_number() OVER (PARTITION BY cl ORDER BY quality DESC, doc) AS rn
         |  FROM j)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  round(avg(CASE WHEN rn = 1 THEN quality END), 4) AS avg_kept_quality
         |FROM r GROUP BY lang ORDER BY lang""".stripMargin
    },
    "dedup_simhash" ->
      s"""WITH $simhashSigCtes
         |SELECT doc, simhash FROM sg ORDER BY doc""".stripMargin,
    "dedup_simhash_idf" ->
      // IDF-filtered signatures (distinct tokens, df > n/2 dropped) through
      // the same band blocking + hamming verify — mirrors Dedup.simhashIdfPairs
      s"""WITH $simhashIdfSigCtes,
         |bd AS (SELECT b AS band, (simhash >> (b * 15)) & 32767 AS bkey, doc, simhash
         |  FROM sg, generate_series(0, 3) AS g(b)),
         |pr2 AS (SELECT DISTINCT a.doc AS doc1, b.doc AS doc2,
         |    a.simhash AS s1, b.simhash AS s2
         |  FROM bd a JOIN bd b ON a.band = b.band AND a.bkey = b.bkey AND a.doc < b.doc)
         |SELECT doc1, doc2, bit_count(xor(s1, s2))::BIGINT AS hamming
         |FROM pr2 WHERE bit_count(xor(s1, s2)) <= 3
         |ORDER BY doc1, doc2""".stripMargin,
    "dedup_simhash_pairs" ->
      // 4×15-bit band blocking + hamming verify, mirroring Dedup.simhashPairs
      s"""WITH $simhashSigCtes,
         |bd AS (SELECT b AS band, (simhash >> (b * 15)) & 32767 AS bkey, doc, simhash
         |  FROM sg, generate_series(0, 3) AS g(b)),
         |pr2 AS (SELECT DISTINCT a.doc AS doc1, b.doc AS doc2,
         |    a.simhash AS s1, b.simhash AS s2
         |  FROM bd a JOIN bd b ON a.band = b.band AND a.bkey = b.bkey AND a.doc < b.doc)
         |SELECT doc1, doc2, bit_count(xor(s1, s2))::BIGINT AS hamming
         |FROM pr2 WHERE bit_count(xor(s1, s2)) <= 3
         |ORDER BY doc1, doc2""".stripMargin,
    "stratified_sample" ->
      """SELECT lang, count(*)::BIGINT AS n_kept,
        |  min(doc_id)::BIGINT AS first_kept, max(doc_id)::BIGINT AS last_kept
        |FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR || '_42'), 1, 15))::BIGINT % 1000 <
        |  CASE lang WHEN 'de' THEN 200 WHEN 'en' THEN 500 WHEN 'es' THEN 300
        |            WHEN 'fr' THEN 100 WHEN 'zh' THEN 50 ELSE 0 END
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "decontaminate" ->
      s"""WITH n AS (SELECT doc_id, $normToks AS toks FROM documents),
         |sh0 AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
         |    THEN list_transform(range(0, len(toks)-2), i -> toks[i+1] || '_' || toks[i+2] || '_' || toks[i+3])
         |    ELSE [] END) AS sh FROM n),
         |shd AS (SELECT DISTINCT doc_id, sh FROM sh0),
         |cs AS (SELECT doc_id AS doc, sh FROM shd WHERE doc_id >= 50),
         |bs AS (SELECT DISTINCT sh FROM shd WHERE doc_id < 50),
         |sizes AS (SELECT doc, count(*)::DOUBLE AS n FROM cs GROUP BY doc),
         |m AS (SELECT doc, count(*)::DOUBLE AS mm FROM cs JOIN bs ON cs.sh = bs.sh GROUP BY doc)
         |SELECT sizes.doc::BIGINT AS doc, mm::BIGINT AS n_matched, n::BIGINT AS n_shingles,
         |  round(mm / n, 4) AS ratio
         |FROM sizes JOIN m ON sizes.doc = m.doc
         |ORDER BY doc""".stripMargin,
    "jaccard_lsh_auto" ->
      s"""WITH $minhashAutoPairsCtes,
         |shd AS (SELECT DISTINCT doc_id, s FROM sh),
         |sizes AS (SELECT doc_id, count(*)::DOUBLE AS sz FROM shd GROUP BY 1),
         |inter AS (SELECT pr.doc1, pr.doc2, count(*)::DOUBLE AS i
         |  FROM pr JOIN shd a ON a.doc_id = pr.doc1
         |    JOIN shd b ON b.doc_id = pr.doc2 AND b.s = a.s
         |  GROUP BY 1, 2)
         |SELECT doc1::BIGINT AS doc1, doc2::BIGINT AS doc2,
         |  round(i / (s1.sz + s2.sz - i), 6) AS jaccard
         |FROM inter JOIN sizes s1 ON doc1 = s1.doc_id JOIN sizes s2 ON doc2 = s2.doc_id
         |ORDER BY doc1, doc2""".stripMargin,
    "minhash_containment_auto" ->
      s"""WITH $minhashAutoPairsCtes,
         |shd AS (SELECT DISTINCT doc_id, s FROM sh),
         |sizes AS (SELECT doc_id, count(*)::DOUBLE AS sz FROM shd GROUP BY 1),
         |inter AS (SELECT pr.doc1, pr.doc2, count(*)::DOUBLE AS i
         |  FROM pr JOIN shd a ON a.doc_id = pr.doc1
         |    JOIN shd b ON b.doc_id = pr.doc2 AND b.s = a.s
         |  GROUP BY 1, 2)
         |SELECT doc1::BIGINT AS doc1, doc2::BIGINT AS doc2,
         |  round(i / least(s1.sz, s2.sz), 6) AS containment,
         |  round(i / (s1.sz + s2.sz - i), 6) AS jaccard,
         |  round(i / least(s1.sz, s2.sz), 6) >= 0.9 AS contained
         |FROM inter JOIN sizes s1 ON doc1 = s1.doc_id JOIN sizes s2 ON doc2 = s2.doc_id
         |ORDER BY doc1, doc2""".stripMargin,
    "jaccard_lsh" ->
      s"""WITH $minhashPairsCtes,
         |shd AS (SELECT DISTINCT doc_id, s FROM sh),
         |sizes AS (SELECT doc_id, count(*)::DOUBLE AS sz FROM shd GROUP BY 1),
         |inter AS (SELECT pr.doc1, pr.doc2, count(*)::DOUBLE AS i
         |  FROM pr JOIN shd a ON a.doc_id = pr.doc1
         |    JOIN shd b ON b.doc_id = pr.doc2 AND b.s = a.s
         |  GROUP BY 1, 2)
         |SELECT doc1::BIGINT AS doc1, doc2::BIGINT AS doc2,
         |  round(i / (s1.sz + s2.sz - i), 6) AS jaccard
         |FROM inter JOIN sizes s1 ON doc1 = s1.doc_id JOIN sizes s2 ON doc2 = s2.doc_id
         |ORDER BY doc1, doc2""".stripMargin,
    "minhash_containment" ->
      s"""WITH $minhashPairsCtes,
         |shd AS (SELECT DISTINCT doc_id, s FROM sh),
         |sizes AS (SELECT doc_id, count(*)::DOUBLE AS sz FROM shd GROUP BY 1),
         |inter AS (SELECT pr.doc1, pr.doc2, count(*)::DOUBLE AS i
         |  FROM pr JOIN shd a ON a.doc_id = pr.doc1
         |    JOIN shd b ON b.doc_id = pr.doc2 AND b.s = a.s
         |  GROUP BY 1, 2)
         |SELECT doc1::BIGINT AS doc1, doc2::BIGINT AS doc2,
         |  round(i / least(s1.sz, s2.sz), 6) AS containment,
         |  round(i / (s1.sz + s2.sz - i), 6) AS jaccard,
         |  round(i / least(s1.sz, s2.sz), 6) >= 0.9 AS contained
         |FROM inter JOIN sizes s1 ON doc1 = s1.doc_id JOIN sizes s2 ON doc2 = s2.doc_id
         |ORDER BY doc1, doc2""".stripMargin,
    "ngram_jaccard" ->
      s"""WITH n AS (SELECT doc_id, source, $normToks AS toks FROM documents),
         |sh AS (SELECT DISTINCT doc_id, source, unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(0, len(toks)-1), i -> toks[i+1] || '_' || toks[i+2])
         |    ELSE [] END) AS s FROM n),
         |sizes AS (SELECT doc_id, count(*)::DOUBLE AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*)::DOUBLE AS i
         |  FROM sh a JOIN sh b ON a.source = b.source AND a.s = b.s
         |    AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 25
         |  GROUP BY 1, 2),
         |j AS (SELECT doc1, doc2, i / (s1.sz + s2.sz - i) AS jac
         |  FROM inter JOIN sizes s1 ON doc1 = s1.doc_id JOIN sizes s2 ON doc2 = s2.doc_id)
         |SELECT doc1::BIGINT AS doc1, doc2::BIGINT AS doc2, round(jac, 6) AS jaccard
         |FROM j ORDER BY jac DESC, doc1, doc2 LIMIT 20""".stripMargin,
    "langid" -> {
      val markers = TextOps.LangMarkers
      def score(ws: Seq[String]) =
        s"len(list_filter(toks, t -> t IN (${ws.map(w => s"'$w'").mkString(", ")})))"
      val scores = markers.map { case (l, ws) => l -> score(ws) }
      val best = s"greatest(${scores.map(_._2).mkString(", ")})"
      val caseExpr = scores.map { case (l, sc) =>
        s"WHEN $sc = best AND best > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH n AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
         |b AS (SELECT lang, toks, $best AS best FROM n),
         |p AS (SELECT lang AS lang_actual, CASE $caseExpr ELSE 'und' END AS lang_pred FROM b)
         |SELECT lang_actual, lang_pred, count(*)::BIGINT AS n
         |FROM p GROUP BY 1, 2 ORDER BY lang_actual, lang_pred""".stripMargin
    },
    "text_quality" -> {
      val stop = TextOps.EnStop.map(w => s"'$w'").mkString(", ")
      s"""WITH n AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         |f AS (SELECT doc_id,
         |  len(toks)::BIGINT AS n_tokens,
         |  length(text)::DOUBLE AS n_chars,
         |  length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE AS alpha,
         |  len(list_distinct(toks))::DOUBLE AS uniq,
         |  len(list_filter(toks, t -> t IN ($stop)))::DOUBLE AS stop
         | FROM n)
         |SELECT doc_id, n_tokens,
         |  round(n_chars / n_tokens, 4) AS avg_token_len,
         |  round(alpha / n_chars, 4) AS alpha_ratio,
         |  round(uniq / n_tokens, 4) AS uniq_ratio,
         |  round(stop / n_tokens, 4) AS stopword_ratio,
         |  round(least(1.0, (uniq / n_tokens) * 0.5 + (alpha / n_chars) * 0.3 +
         |    least(stop / n_tokens * 5.0, 1.0) * 0.2), 4) AS quality
         |FROM f ORDER BY doc_id""".stripMargin
    },
    "dedup_keep_best" -> {
      val stop = TextOps.EnStop.map(w => s"'$w'").mkString(", ")
      s"""WITH n AS (SELECT doc_id, text, lang, string_split(text, ' ') AS toks FROM documents),
         |f AS (SELECT doc_id, lang, md5(text) AS h,
         |  len(toks)::DOUBLE AS n_tokens,
         |  length(text)::DOUBLE AS n_chars,
         |  length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE AS alpha,
         |  len(list_distinct(toks))::DOUBLE AS uniq,
         |  len(list_filter(toks, t -> t IN ($stop)))::DOUBLE AS stop
         | FROM n),
         |q AS (SELECT doc_id, lang, h,
         |  round(least(1.0, (uniq / n_tokens) * 0.5 + (alpha / n_chars) * 0.3 +
         |    least(stop / n_tokens * 5.0, 1.0) * 0.2), 4) AS quality
         |  FROM f),
         |r AS (SELECT lang, quality,
         |    row_number() OVER (PARTITION BY h ORDER BY quality DESC, doc_id) AS rn
         |  FROM q)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  round(avg(CASE WHEN rn = 1 THEN quality END), 4) AS avg_kept_quality
         |FROM r GROUP BY lang ORDER BY lang""".stripMargin
    },
    "weighted_sample" ->
      """WITH w AS (SELECT doc_id AS doc, lang,
        |    round(pow(
        |      (('0x' || substr(md5(doc_id::VARCHAR || '_ws42'), 1, 15))::BIGINT % 1000000)::DOUBLE
        |        / 1000000.0 + 5e-7,
        |      1.0 / n_chars::DOUBLE), 8) AS skey
        |  FROM documents WHERE n_chars > 0),
        |s AS (SELECT doc, lang, skey FROM w ORDER BY skey DESC, doc LIMIT 50)
        |SELECT doc::BIGINT AS doc, lang, skey FROM s ORDER BY doc""".stripMargin,
    "pack_sequences" ->
      """WITH b AS (SELECT lang || '_' || floor(doc_id / 250)::BIGINT AS shard, doc_id AS doc,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
        |c AS (SELECT shard, doc, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM b)
        |SELECT shard, floor((cum - n_tokens) / 512.0)::BIGINT AS pack,
        |  count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
        |  round(sum(n_tokens) / 512.0, 4) AS fill
        |FROM c GROUP BY shard, floor((cum - n_tokens) / 512.0)
        |ORDER BY shard, pack""".stripMargin,
    "doc_length_stats" ->
      """WITH b AS (SELECT lang, doc_id AS doc,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
        |r AS (SELECT lang, n_tokens,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM b)
        |SELECT lang, max(n)::BIGINT AS n_docs, min(n_tokens)::BIGINT AS min_tokens,
        |  max(CASE WHEN rn = ceil(n * 0.5) THEN n_tokens END)::BIGINT AS p50,
        |  max(CASE WHEN rn = ceil(n * 0.9) THEN n_tokens END)::BIGINT AS p90,
        |  max(n_tokens)::BIGINT AS max_tokens,
        |  round(avg(n_tokens), 4) AS avg_tokens
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' '))::BIGINT AS ws_tokens,
        |  len(list_distinct(string_split(text, ' ')))::BIGINT AS uniq_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS bpe_pieces
        |FROM documents ORDER BY doc_id""".stripMargin,
    "repetition_score" ->
      """WITH n AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s2 AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
        |    THEN list_transform(range(0, len(toks)-1), i -> toks[i+1] || '_' || toks[i+2])
        |    ELSE [] END) AS sh FROM n),
        |c2 AS (SELECT doc_id, sh, count(*) AS c FROM s2 GROUP BY doc_id, sh),
        |t2 AS (SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE AS v FROM c2 GROUP BY doc_id),
        |s3 AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(0, len(toks)-2), i -> toks[i+1] || '_' || toks[i+2] || '_' || toks[i+3])
        |    ELSE [] END) AS sh FROM n),
        |c3 AS (SELECT doc_id, sh, count(*) AS c FROM s3 GROUP BY doc_id, sh),
        |d3 AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / sum(c)::DOUBLE AS v
        |  FROM c3 GROUP BY doc_id)
        |SELECT d.doc_id, round(coalesce(t2.v, 0.0), 4) AS top2_frac,
        |  round(coalesce(d3.v, 0.0), 4) AS dup3_frac
        |FROM documents d LEFT JOIN t2 ON d.doc_id = t2.doc_id
        |LEFT JOIN d3 ON d.doc_id = d3.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "gopher_filters" ->
      """WITH n AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |f AS (SELECT
        |    len(toks)::DOUBLE AS nw,
        |    (length(text)::DOUBLE - (len(toks)::DOUBLE - 1.0)) / len(toks)::DOUBLE AS mwl,
        |    len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$')))::DOUBLE / len(toks)::DOUBLE AS numfrac,
        |    len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS uniqr
        |  FROM n),
        |r AS (SELECT (nw >= 10.0 AND nw <= 1000.0) AS r_wc,
        |    (mwl >= 2.0 AND mwl <= 12.0) AS r_mwl,
        |    (numfrac <= 0.3) AS r_num, (uniqr >= 0.2) AS r_uniq FROM f)
        |SELECT count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN r_wc THEN 0 ELSE 1 END)::BIGINT AS fail_word_count,
        |  sum(CASE WHEN r_mwl THEN 0 ELSE 1 END)::BIGINT AS fail_mean_word_len,
        |  sum(CASE WHEN r_num THEN 0 ELSE 1 END)::BIGINT AS fail_numeric_frac,
        |  sum(CASE WHEN r_uniq THEN 0 ELSE 1 END)::BIGINT AS fail_uniq_ratio,
        |  sum(CASE WHEN r_wc AND r_mwl AND r_num AND r_uniq THEN 1 ELSE 0 END)::BIGINT AS n_keep
        |FROM r""".stripMargin,
    "mix_weights" ->
      """WITH c0 AS (SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY lang),
        |c AS (SELECT lang, n,
        |    (CASE lang WHEN 'de' THEN 0.2 WHEN 'en' THEN 0.4 WHEN 'es' THEN 0.15
        |               WHEN 'fr' THEN 0.15 WHEN 'zh' THEN 0.1 END)::DOUBLE AS target
        |  FROM c0),
        |cc AS (SELECT * FROM c WHERE target IS NOT NULL),
        |m AS (SELECT min(n / target) AS m FROM cc)
        |SELECT lang, n::BIGINT AS n_docs, target AS target_share,
        |  floor(target * m)::BIGINT AS take_n,
        |  round(floor(target * m) / n, 6) AS rate
        |FROM cc, m ORDER BY lang""".stripMargin,
    "fingerprint" ->
      s"""WITH n AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt FROM documents),
         |t AS (SELECT doc_id, nt, string_split(nt, ' ') AS toks FROM n)
         |SELECT doc_id, md5(nt) AS fp_md5,
         |  list_min(list_transform(CASE WHEN len(toks) >= 3
         |    THEN list_transform(range(0, len(toks)-2), i -> toks[i+1] || '_' || toks[i+2] || '_' || toks[i+3])
         |    ELSE [] END, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT))::BIGINT AS fp_shingle_min
         |FROM t ORDER BY doc_id""".stripMargin
  )
}
