package graft.dedup

import graft.core.{Barrier, Num, VectorOps}
import graft.core.Num.r4
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for LLM-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale posture: every shuffle key here is a hash (content hash, band
  * bucket, simhash) — uniform by construction, so the groupBy/join shuffles
  * partition evenly at 100 TB; candidate generation never compares all
  * pairs, only within buckets. Hashes are md5-derived (engine-neutral) so
  * the DuckDB oracles reproduce them bit-for-bit.
  */
object Dedup {
  def normText(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Exact dedup: group by content hash (map-side combined), keep min id.
    * 128-bit md5 ⇒ collision-free in practice at any corpus size. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(md5(normText(col(textCol))).as("content_hash"), col(idCol).cast("long").as("_id"))
      .groupBy(col("content_hash"))
      .agg(min(col("_id")).as("keeper_id"), count(lit(1)).cast("long").as("n_copies"))

  /** MinHash parameters: numHashes signatures in bands of rowsPerBand. */
  final case class MinHashParams(numHashes: Int = 8, rowsPerBand: Int = 2, shingleK: Int = 3)
  // 31-bit constants for the universal-hash family (a*H + b) mod P — the
  // first 8 pairs are frozen (every fixed-parameter oracle replays them);
  // 12 more published LCG multipliers extend the family to 20 for the
  // n-scaled [[autoParams]] depths (MINSTD/Lehmer/L'Ecuyer/RANDU/
  // SIMSCRIPT/Fishman-Moore lineage — public constants)
  private val A = Seq(1103515245L, 69069L, 1664525L, 22695477L, 134775813L,
    214013L, 75L, 1103515247L,
    16807L, 48271L, 69621L, 40692L, 65539L, 1566083941L, 1812433253L,
    630360016L, 397204094L, 950706376L, 742938285L, 62089911L)
  private val B = Seq(12345L, 362437L, 1013904223L, 1L, 1L, 2531011L, 74L, 54321L,
    7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L, 37L, 41L, 43L, 47L)

  /** The n-SCALED MinHash-LSH parameter rule — the ann_lsh_auto
    * discipline applied to the near-dup candidate stage. With FIXED
    * bands (4 × 2 hashes), random band-collision mass grows ~n²·E[J²]:
    * measured on the organic corpus, candidate pairs went 317k → 32.1 M
    * for 50k → 500k docs (101× for 10× — the r15 second-decade curve).
    * The published remedy (Leskovec/Rajaraman/Ullman §3.4 S-curve
    * tuning) is to grow the band WIDTH r with n: random mass per band
    * drops ~E[J]ᵣ (geometric) while true near-dups (J ≈ 0.9+) keep
    * band-match probability high. Rule: r = 2 + ⌊log10(n/5000)⌋ clamped
    * to [2, 5], bands fixed at 4, numHashes = 4r — so each decade of
    * corpus growth adds one row per band, holding total candidate mass
    * ~linear across the measured decades. Integer rule on the exact
    * count, replayed by the oracle from its own count(*). */
  def autoParams(n: Long): MinHashParams = {
    val r = math.min(5, 2 + math.max(0,
      math.floor(math.log10(math.max(1L, n) / 5000.0)).toInt))
    MinHashParams(numHashes = 4 * r, rowsPerBand = r)
  }

  /** (doc, shingle-hash) rows: [[TextOps.explodedShingles]] tokenizes each
    * document once and explodes its k-gram array — a pure map, no shuffle. */
  def shingleHashes(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    TextOps.explodedShingles(df, col(idCol), normText(col(textCol)), k)
      .select(col("doc"), Num.md5Mod(col("sh")).as("hv"))

  /** Per-doc minhash signature columns `mh0..mh{k-1}` (one aggregation over
    * the exploded shingle hashes — map-side combined). */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        p: MinHashParams = MinHashParams()): DataFrame = {
    val sig = (0 until p.numHashes).map { i =>
      min((col("hv") * A(i) + B(i)) % Num.HashPrime).as(s"mh$i")
    }
    shingleHashes(df, textCol, idCol, p.shingleK)
      .groupBy(col("doc")).agg(sig.head, sig.tail: _*)
  }

  /** Per-doc LSH band rows (band, bkey, doc) — the join key of every
    * MinHash dedup shape AND the persistable index payload
    * (ModelIO.saveDedupIndex): a corpus's distinct (band, bkey) set is the
    * whole near-dup fingerprint of the already-ingested data, so saving it
    * lets a later shard serve incremental dedup without re-reading the
    * corpus. */
  def bandRows(df: DataFrame, textCol: String, idCol: String,
               p: MinHashParams = MinHashParams()): DataFrame = {
    require(p.numHashes % p.rowsPerBand == 0,
      s"numHashes (${p.numHashes}) must be a multiple of rowsPerBand " +
        s"(${p.rowsPerBand}) — trailing hashes would be silently dropped")
    // every band of a signature row is emitted in-row (one Generate over
    // the signature aggregate): the table is read once, nothing is cached
    val bands = (0 until p.numHashes / p.rowsPerBand).map { b =>
      struct(lit(b).as("band"), concat_ws("_",
        (0 until p.rowsPerBand).map(r => col(s"mh${b * p.rowsPerBand + r}")): _*).as("bkey"))
    }
    minhashSignatures(df, textCol, idCol, p)
      .select(col("doc"), explode(array(bands: _*)).as("_b"))
      .select(col("_b.band").as("band"), col("_b.bkey").as("bkey"), col("doc"))
  }

  /** LSH candidate pairs: docs sharing any band of the signature.
    * Shuffle key = (band, band-hash): uniform, bounded buckets. */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        p: MinHashParams = MinHashParams()): DataFrame = {
    val bands = bandRows(df, textCol, idCol, p)
    bands.as("l").join(bands.as("r"),
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.doc") < col("r.doc"))
      .select(col("l.doc").as("doc1"), col("r.doc").as("doc2"))
      .distinct()
  }

  /** [[minhashCandidates]] under the n-scaled [[autoParams]] rule — the
    * production candidate stage for growing corpora (one count() to
    * derive the depth, then the identical band machinery). */
  def minhashCandidatesAuto(df: DataFrame, textCol: String, idCol: String): DataFrame =
    minhashCandidates(df, textCol, idCol, autoParams(df.count()))

  /** SimHash bit width: 60 (all bits of the md5-derived hash — birthday
    * collisions at ~2³⁰ docs, vs ~300 for the earlier 16-bit variant). */
  val SimhashBits = 60

  /** 60-bit SimHash per doc: sign-sum of token-hash bits, ONE aggregation.
    * The per-bit ±1 sums are 60 agg columns over the token rows (map-side
    * combined) — no bit-explode, so the shuffle carries one row per
    * (doc, token) instead of bits× that. */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = TextOps.tokens(normText(col(textCol)))
    val tok = df.select(col(idCol).cast("long").as("doc"), explode(toks).as("tok"))
      .withColumn("h", Num.md5Long(col("tok")))
    val sums = (0 until SimhashBits).map(b =>
      sum(when(shiftright(col("h"), b) % 2 === 1, 1L).otherwise(-1L)).as(s"v$b"))
    tok.groupBy(col("doc")).agg(sums.head, sums.tail: _*)
      .select(col("doc"),
        (0 until SimhashBits).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs via band blocking (Manku, Jain & Das Sarma,
    * "Detecting Near-Duplicates for Web Crawling", WWW 2007 — the published
    * simhash-dedup algorithm; reference has no counterpart, cuML stops at
    * signatures): split the 60-bit simhash into 4 bands of 15 bits — by
    * pigeonhole, any pair within hamming distance 3 agrees exactly on at
    * least one band — join on (band, band-value), then verify the full
    * hamming distance on the colliding pairs. Shuffle key = 15-bit band
    * value (uniform by construction); the verify step touches only
    * Σ bucket² candidate pairs, never n².
    *
    * AUDIT TWIN ONLY (r15 re-scope, the quantile_buckets discipline): the
    * UNWEIGHTED occurrence-sum signature is safe on synthetic/uniform
    * vocabularies but measured DEGENERATE on natural Zipf text (50k-doc
    * organic corpus: one 15-bit band value held 29,036 docs → 1.45 G
    * candidate pairs, 477 s — the band join goes quadratic). The
    * production pair path for natural-text corpora is
    * [[simhashIdfPairs]]; this one exists to audit the band/verify
    * machinery against a corpus where the raw signature is exact. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame =
    simhashBandPairs(simhash(df, textCol, idCol), maxHamming)

  /** IDF-FILTERED SimHash — the Manku et al. (WWW 2007) weighting
    * discipline reduced to its replayable core: per-doc DISTINCT tokens
    * (tf → 1) and tokens appearing in more than half the corpus dropped
    * entirely. Unweighted occurrence-sum simhash DEGENERATES on natural
    * (Zipf) text: the common-word mass pushes every document's bit sums
    * in the same direction, so signatures collapse toward the corpus
    * majority pattern — measured on the organic corpus at 50k docs, ONE
    * 15-bit band value held 29,036 documents (1.45 G candidate pairs).
    * The df > n/2 drop is exact in both engines (integer counts), so the
    * oracle replays the filter bit-for-bit where fractional tf-idf
    * weights would hit float-aggregation parity. */
  def simhashIdf(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val n = df.count()
    // r18 restructure (guide §2.3/§2.4): per-doc DISTINCT tokens via a
    // LOCAL array_distinct — exactly the distinct (doc, token) row set
    // the old explode().distinct() produced, without shuffling the
    // exploded corpus (and without recomputing that shuffle twice: the
    // uncached `tok` fed both the df-count build and the join). The
    // token array stages through the structural barrier so the explode
    // reads one materialized array per row.
    val tok = Barrier.once(
        df.select(col(idCol).cast("long").as("doc"),
          normText(col(textCol)).as("_t")),
        Seq(col("doc")), array_distinct(TextOps.tokens(col("_t"))), "toks")
      .select(col("doc"), explode(col("toks")).as("tok"))
    // tokens present in more than half the docs: Σdf ≤ n·(distinct
    // tokens per doc), so at most ~2× the mean doc vocabulary qualifies
    // — a bounded, broadcastable set at ANY corpus size. The broadcast
    // anti-join replaces the old full shuffle-join of every (doc, token)
    // row against the df frame.
    val dropped = tok.groupBy(col("tok")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") * 2 > n).select(col("tok"))
    val kept = tok.join(broadcast(dropped), Seq("tok"), "left_anti")
      .withColumn("h", Num.md5Long(col("tok")))
    val sums = (0 until SimhashBits).map(b =>
      sum(when(shiftright(col("h"), b) % 2 === 1, 1L).otherwise(-1L)).as(s"v$b"))
    kept.groupBy(col("doc")).agg(sums.head, sums.tail: _*)
      .select(col("doc"),
        (0 until SimhashBits).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _).as("simhash"))
  }

  /** [[simhashPairs]] over the IDF-filtered signatures — the scale path
    * for natural-text corpora. */
  def simhashIdfPairs(df: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3): DataFrame =
    simhashBandPairs(simhashIdf(df, textCol, idCol), maxHamming)

  /** 4×15-bit pigeonhole band blocking + hamming verify over a
    * (doc, simhash) frame. */
  private def simhashBandPairs(sigs0: DataFrame, maxHamming: Int): DataFrame = {
    // the signature frame feeds BOTH sides of the band self-join, and
    // AQE's stage-local re-optimization defeats exchange reuse across
    // the two sides — measured at sf1 as two serial ~5 s single-task
    // stages each re-running the whole 60-column signature aggregate.
    // One (doc, simhash) row per doc (16 bytes), MEMORY_AND_DISK: the
    // bounded cache is the decide-on-small-rows discipline (guide §8).
    val sigs = sigs0.cache()
    val nBands = 4
    val bandBits = SimhashBits / nBands // 15
    val bands = sigs.select(col("doc"), col("simhash"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * bandBits)
            .bitwiseAND(lit((1L << bandBits) - 1)).as("bkey"))
      }: _*)).as("bb"))
      .select(col("doc"), col("simhash"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val ham = bit_count(col("s1").bitwiseXOR(col("s2"))).cast("long")
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc1"), col("b.doc").as("doc2"),
        col("a.simhash").as("s1"), col("b.simhash").as("s2"))
      .distinct()
      .select(col("doc1"), col("doc2"), ham.as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Per-doc DISTINCT k-shingle sets (doc, shs), built in-row — one row per
    * document, no shuffle. [[TextOps.shingles]] reads the token array once
    * per document, so the split needs no staging; the set goes through the
    * structural Generate barrier because its callers read it twice (size +
    * explode, or a filter and its output), and would otherwise rebuild it
    * per read. */
  private def shingleSets(df: DataFrame, textCol: String, idCol: String,
                          k: Int): DataFrame =
    Barrier.once(df, Seq(col(idCol).cast("long").as("doc")),
      array_distinct(TextOps.shingles(TextOps.tokens(normText(col(textCol))), k)), "shs")

  /** The MinHash-LSH candidate pairs with their exact shingle-set sizes
    * (doc1, doc2, inter = |A∩B|, sz1 = |A|, sz2 = |B|) — the r17
    * verify-stage shape shared by [[jaccardForCandidates]] and
    * [[containmentForCandidates]]. [[shingleSets]] is restricted to the
    * docs that appear in some candidate pair: the semi join ships each
    * kept doc ONCE (AQE broadcasts the id set while it is small, and at
    * corpus scale it degrades to one shuffle of compact array rows — never
    * the exploded shingle table). Docs shorter than k tokens are dropped,
    * replaying the old inner-join-on-shingle-rows semantics exactly (such
    * docs have no signature, so they cannot be candidates anyway). */
  private def candidateOverlaps(df: DataFrame, textCol: String, idCol: String,
                                p: MinHashParams): DataFrame = {
    val cand = minhashCandidates(df, textCol, idCol, p).cache()
    val docsInPairs = cand
      .select(explode(array(col("doc1"), col("doc2"))).as("doc")).distinct()
    val sub = shingleSets(df, textCol, idCol, p.shingleK).filter(size(col("shs")) > 0)
      .join(docsInPairs, Seq("doc"), "left_semi").cache()
    cand
      .join(sub.select(col("doc").as("doc1"), col("shs").as("shs1")), Seq("doc1"))
      .join(sub.select(col("doc").as("doc2"), col("shs").as("shs2")), Seq("doc2"))
      .select(col("doc1"), col("doc2"),
        size(array_intersect(col("shs1"), col("shs2"))).cast("double").as("inter"),
        size(col("shs1")).cast("double").as("sz1"),
        size(col("shs2")).cast("double").as("sz2"))
  }

  /** Exact n-gram Jaccard for the MinHash-LSH candidate pairs — the scale
    * shape: LSH proposes (bounded bucket joins), exact Jaccard verifies.
    * Shingles are the same k-grams the signatures hashed, so verification
    * measures exactly what LSH approximated.
    *
    * r17 restructure: the old shape exploded the corpus to (doc, shingle)
    * rows, distinct'd them, and joined that table TWICE (by doc1, then by
    * (doc2, shingle)) plus a per-pair groupBy — at 5M organic docs those
    * two ~10⁹-row shuffles were ~80% of the 623 s wall. Now the corpus is
    * mapped once to per-doc distinct shingle ARRAYS (no shuffle),
    * semi-filtered to the ~linear candidate-doc set, and each pair
    * intersects two arrays locally (`array_intersect` hashes the smaller
    * side). Values are bit-identical: |A∩B| and |A| over the same
    * distinct '_'-joined k-gram strings. */
  def jaccardForCandidates(df: DataFrame, textCol: String, idCol: String,
                           p: MinHashParams = MinHashParams(),
                           minJaccard: Double = 0.0): DataFrame =
    candidateOverlaps(df, textCol, idCol, p)
      .select(col("doc1"), col("doc2"),
        (col("inter") / (col("sz1") + col("sz2") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)

  /** [[jaccardForCandidates]] / [[containmentForCandidates]] under the
    * n-scaled [[autoParams]] band depth — the scale path for both
    * verify-stage measures (their fixed-parameter candidate stage is
    * what disk-killed the 500k-doc organic run: 32.1 M pairs × the
    * shingle join spilled > 46 GB). */
  def jaccardForCandidatesAuto(df: DataFrame, textCol: String, idCol: String): DataFrame =
    jaccardForCandidates(df, textCol, idCol, autoParams(df.count()))

  def containmentForCandidatesAuto(df: DataFrame, textCol: String, idCol: String): DataFrame =
    containmentForCandidates(df, textCol, idCol, autoParams(df.count()))

  /** Broder containment |A∩B| / min(|A|,|B|) alongside Jaccard for the
    * MinHash-LSH candidate pairs — the ASYMMETRIC near-dup signal: a short
    * document embedded verbatim in a longer one scores containment ≈ 1
    * while its Jaccard stays low (Broder 1997's resemblance vs
    * containment). Same Σ bucket² candidate bound as
    * [[jaccardForCandidates]]; the exact set join only touches proposed
    * pairs. */
  def containmentForCandidates(df: DataFrame, textCol: String, idCol: String,
                               p: MinHashParams = MinHashParams()): DataFrame =
    candidateOverlaps(df, textCol, idCol, p)
      .select(col("doc1"), col("doc2"),
        (col("inter") / least(col("sz1"), col("sz2"))).as("containment"),
        (col("inter") / (col("sz1") + col("sz2") - col("inter"))).as("jaccard"))

  /** n-gram Jaccard similarity for candidate pairs (same `source`, nearby
    * ids). Pair scope: 0 < doc2 − doc1 ≤ maxIdGap within a source — so
    * every pair lives inside a WINDOW of 2·gap consecutive ids, and the
    * whole computation localizes: one shuffle of per-doc shingle ARRAYS
    * keyed by (source, block = doc div gap) — each doc lands in its own
    * block and the previous one — then in-group distinct-set
    * intersections over ≤ 2·gap docs.
    *
    * This replaced the r12 per-shingle self-join in r17: at 5M organic
    * docs the exploded (doc, shingle) table (~10⁹ rows after the window
    * + distinct) drove a multi-hundred-GB sort-merge join that never
    * finished the third-decade bench (the r16 "unidentified ~50-min
    * single-task stage"). The per-block shape shuffles each document
    * exactly twice (as an array row, no per-shingle fan-out), gives
    * n/gap independent groups — parallelism grows WITH the corpus — and
    * bounds per-task work by 2·gap × the longest document. */
  def ngramJaccard(df: DataFrame, textCol: String, idCol: String, srcCol: String,
                   k: Int = 2, maxIdGap: Long = 25L, minJaccard: Double = 0.15): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // per-doc k-gram array straight off the token array — no window, no
    // explode, no shuffle before the block exchange
    val gramExpr = s"transform(sequence(0, size(_toks) - $k), i -> " +
      s"concat_ws('_', ${(0 until k).map(j => s"_toks[i+$j]").mkString(", ")}))"
    val base = df
      .select(col(idCol).cast("long").as("doc"),
        col(srcCol).cast("string").as("src"),
        split(normText(col(textCol)), " ").as("_toks"))
      .select(col("doc"), col("src"),
        when(size(col("_toks")) >= k, expr(gramExpr))
          .otherwise(array().cast("array<string>")).as("shs"))
      .as[(Long, String, Seq[String])]
    val gap = maxIdGap
    val minJ = minJaccard
    val pairs = base
      .flatMap { case (doc, src, shs) =>
        val b = Math.floorDiv(doc, gap)
        Iterator((src, b, doc, shs), (src, b - 1L, doc, shs))
      }
      .groupByKey { case (src, g, _, _) => (src, g) }
      .flatMapGroups { (key: (String, Long), it: Iterator[(String, Long, Long, Seq[String])]) =>
        val g = key._2
        val docs = it.map { case (_, _, doc, shs) => (doc, shs.toSet) }
          .toArray.sortBy(_._1)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < docs.length) {
          val (d1, s1) = docs(i)
          if (Math.floorDiv(d1, gap) == g) { // pair owned by doc1's block
            var j = i + 1
            while (j < docs.length && docs(j)._1 - d1 <= gap) {
              val (d2, s2) = docs(j)
              val inter = s1.count(s2.contains).toDouble
              if (inter > 0) {
                val jac = inter / (s1.size + s2.size - inter)
                if (jac >= minJ) out += ((d1, d2, jac))
              }
              j += 1
            }
          }
          i += 1
        }
        out.iterator
      }
    pairs.toDF("doc1", "doc2", "jaccard")
  }

  /** Benchmark decontamination — the n-gram-overlap check every LLM
    * training pipeline runs before training (GPT-3/Pile-style: flag
    * training documents sharing k-gram shingles with an evaluation set).
    * The benchmark side is tiny by nature (eval suites), so its distinct
    * shingle set broadcasts and the corpus-side scan never shuffles for the
    * join. Each corpus document's distinct shingle set is built in-row
    * (`array_distinct`, no (doc, shingle) shuffle), so `n_shingles` is its
    * size and only matched shingles reach the per-doc count. Returns one
    * row per contaminated doc: (doc, n_matched, n_shingles, ratio). */
  def benchmarkOverlap(corpus: DataFrame, benchmark: DataFrame, textCol: String,
                       idCol: String, k: Int = 3): DataFrame = {
    val bs = TextOps.explodedShingles(benchmark, col(idCol), normText(col(textCol)), k)
      .select(col("sh")).distinct()
    shingleSets(corpus, textCol, idCol, k)
      .select(col("doc"), size(col("shs")).cast("double").as("_n"),
        explode(col("shs")).as("sh"))
      .join(broadcast(bs), Seq("sh"))
      .groupBy(col("doc"), col("_n")).agg(count(lit(1)).cast("double").as("_m"))
      .select(col("doc"), col("_m").cast("long").as("n_matched"),
        col("_n").cast("long").as("n_shingles"),
        r4(col("_m") / col("_n")).as("ratio"))
  }

  /** Line/segment-level dedup — the CCNet/C4 shape (reference corpus
    * pipelines drop boilerplate LINES repeated across pages; here the
    * segment is k consecutive normalized words, since the corpus carries
    * no newlines): split each document into consecutive k-word segments,
    * count identical segments corpus-wide, and for any segment occurring
    * ≥ minCount times keep only its FIRST occurrence (min (doc, pos)) —
    * every other copy is dropped; the survivors reassemble in document
    * order. Emits (doc, n_segs, n_kept, clean_hash=md5 of the cleaned
    * text) for every input document.
    *
    * Scale shape: segmentation is a pure map; the count+first-occurrence
    * pass is ONE aggregate window keyed on the segment (uniform content
    * key; r12 — the groupBy + join-back formulation forced the
    * segmentation explode to run three times, once per branch), and the
    * reassembly is one groupBy on the doc id computing segment counts,
    * kept counts and the cleaned-text hash from the same windowed frame.
    * No single-partition windows, no driver state. */
  def segmentDedup(df: DataFrame, textCol: String, idCol: String,
                   k: Int = 3, minCount: Long = 2L): DataFrame = {
    // token array staged through the structural barrier (r17 opt): the
    // segment transform's lambda would otherwise inline the
    // split(normText(...)) and re-tokenize per SEGMENT — O(len²/k) per
    // document, the shingleHashes trap
    val staged = graft.core.Barrier.once(
      df.select(col(idCol).cast("long").as("doc"), col(textCol).as("_t")),
      Seq(col("doc")), split(normText(col("_t")), " "), "_toks")
    val toks = col("_toks")
    val nSeg = ceil(size(toks).cast("double") / k).cast("int")
    val segs = staged.select(col("doc"),
        posexplode(transform(sequence(lit(0), nSeg - 1),
          i => array_join(slice(toks, i * k + 1, lit(k)), " "))))
      .toDF("doc", "i", "seg")
    val bySeg = Window.partitionBy(col("seg"))
    val marked = segs
      .withColumn("_n", count(lit(1)).over(bySeg))
      .withColumn("_keep", min(struct(col("doc"), col("i"))).over(bySeg))
      .withColumn("_kept", col("_n") < minCount ||
        (col("_keep.doc") === col("doc") && col("_keep.i") === col("i")))
    marked.groupBy(col("doc")).agg(
        count(lit(1)).cast("long").as("n_segs"),
        count(when(col("_kept"), 1)).cast("long").as("n_kept"),
        md5(array_join(
          transform(array_sort(collect_list(
            when(col("_kept"), struct(col("i"), col("seg"))))),
            s => s.getField("seg")), " ")).as("clean_hash"))
      .select(col("doc"), col("n_segs"), col("n_kept"), col("clean_hash"))
  }

  /** Duplicated-substring spans (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499 — suffix-array
    * duplicate detection re-expressed for a shuffle engine; reference
    * anchor: the corpus-dedup surface behind
    * `python/cuml/test/test_text.py`-style preprocessing): slide a k-word
    * window with stride 1 over each normalized document, count identical
    * windows corpus-wide on their 128-bit md5, call a window duplicated
    * when it occurs ≥ minCount times anywhere (cross-doc or
    * self-repetition), and merge overlapping/adjacent duplicated windows
    * (start gap ≤ k) into maximal spans — the token ranges a pipeline
    * would cut out. One summary row per document: (doc, n_tokens,
    * n_windows, n_dup_windows, n_spans, dup_tokens, dup_frac).
    *
    * Scale shape: windowing is a pure map (explode), the duplicate test
    * is ONE count window keyed on the uniform window hash (r12: was a
    * groupBy + semi-join pair whose two exchanges forced the md5
    * expansion to run twice), and span merging is a per-doc window over
    * that doc's duplicated starts only (≤ n_windows rows per doc). The
    * suffix array's O(n log n) global sort becomes the shuffle Spark
    * already does for the hash window — no all-pairs stage anywhere. */
  def spanDedup(df: DataFrame, textCol: String, idCol: String,
                k: Int = 5, minCount: Long = 2L): DataFrame = {
    // token array staged through the structural barrier (r17 opt):
    // CollapseProject would otherwise substitute the split(normText(...))
    // into the window transform's lambda below and re-tokenize per
    // WINDOW position — O(len²) per document
    val base = graft.core.Barrier.once(
        df.select(col(idCol).cast("long").as("doc"), col(textCol).as("_t")),
        Seq(col("doc")), split(normText(col("_t")), " "), "toks")
      .select(col("doc"), col("toks"),
        size(col("toks")).cast("long").as("n_tokens"))
    val wins = base.filter(col("n_tokens") >= k)
      .select(col("doc"), col("n_tokens"),
        posexplode(transform(sequence(lit(0), (col("n_tokens") - k).cast("int")),
          i => md5(array_join(slice(col("toks"), i + 1, lit(k)), " ")))))
      .toDF("doc", "n_tokens", "i", "key")
    // corpus-wide occurrence count as a window over the hash key (r12):
    // the groupBy+semi-join formulation evaluated the md5 window
    // expansion TWICE (the two exchanges differ, so Catalyst cannot
    // reuse them) — one count-over-key window shuffles the frame once
    // and keeps the expansion single-pass
    val byKey = Window.partitionBy(col("key"))
    val byDoc = Window.partitionBy(col("doc")).orderBy(col("i"))
    val starts = wins
      .withColumn("cnt", count(lit(1)).over(byKey))
      .filter(col("cnt") >= minCount)
      .withColumn("ns",
        when(lag(col("i"), 1).over(byDoc).isNull ||
          col("i") - lag(col("i"), 1).over(byDoc) > k, 1).otherwise(0))
      .withColumn("sid", sum(col("ns")).over(byDoc))
    val spans = starts.groupBy(col("doc"), col("sid"))
      .agg(min(col("i")).as("s"), (max(col("i")) + (k - 1)).as("e"),
        count(lit(1)).as("nw"))
    val agg = spans.groupBy(col("doc")).agg(
      count(lit(1)).cast("long").as("n_spans"),
      sum(col("e") - col("s") + 1).cast("long").as("dup_tokens"),
      sum(col("nw")).cast("long").as("n_dup_windows"))
    base.join(agg, Seq("doc"), "left")
      .select(col("doc"), col("n_tokens"),
        greatest(col("n_tokens") - (k - 1), lit(0L)).cast("long").as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"), 6).as("dup_frac"))
  }

  /** Transitive duplicate groups: connected components over the minhash
    * candidate pairs, each doc mapped to its group keeper (min doc id) —
    * what a pipeline actually drops on. Exactly 8 min-label-propagation
    * rounds (band buckets make dup groups near-cliques, diameter ≈ 2;
    * the fixed count lets the SQL oracle replay identical chained rounds
    * on exact integer labels). */
  def minhashClusters(df: DataFrame, textCol: String, idCol: String,
                      p: MinHashParams = MinHashParams()): DataFrame =
    graft.graph.ConnectedComponents
      .propagate(minhashCandidates(df, textCol, idCol, p), "doc1", "doc2", 8)
      .select(col("node").as("doc"), col("label").as("keeper"))

  /** Embedding near-dup with LSH candidate generation — the 100 TB path:
    * pairs form only inside random-hyperplane buckets (graft.neighbors
    * .KNN.lshBuckets), so the join key is the bucket id and the pair count
    * is Σ bucket² instead of n². Same scoring/ordering contract as the
    * exact `embeddingTopPairs`; near-identical output when the similar
    * pairs collide in a bucket (16 bits keeps near-dups together whp). */
  def embeddingTopPairsLsh(df: DataFrame, idCol: String, vecCol: String,
                           topN: Int, bits: Int, dim: Int): DataFrame = {
    val b = graft.neighbors.KNN.lshBuckets(df, idCol, vecCol, bits, dim)
      .withColumn("n2", VectorOps.sqNormFixed(col("v")))
    val sim = VectorOps.dotFixed(col("a.v"), col("b.v")) /
      sqrt(col("a.n2") * col("b.n2"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"), sim.as("_sim"))
      .orderBy(col("_sim").desc, col("id1"), col("id2"))
      .limit(topN)
      .select(col("id1"), col("id2"), r4(col("_sim")).as("cosine"))
  }

  /** [[embeddingTopPairsLsh]] with the n-SCALED depth rule
    * (KNN.lshBitsFor — expected bucket ~64 rows at any corpus size) and
    * the codegen'd BlockSignBits signature: the production embedding
    * near-dup candidate stage for growing corpora. Fixed bits hold
    * n/2^bits rows per bucket, so pair mass goes quadratic one decade
    * past wherever the constant was tuned (the r15 second-decade lesson,
    * measured 6.9× for 10× at fixed 8 bits); depth tracking log₂(n)
    * keeps it linear. */
  def embeddingTopPairsLshAuto(df: DataFrame, idCol: String, vecCol: String,
                               topN: Int, dim: Int): DataFrame = {
    val bits = graft.neighbors.KNN.lshBitsFor(df.count())
    val b = graft.neighbors.KNN.lshBucketsAuto(df, idCol, vecCol, bits, dim)
      .withColumn("n2", VectorOps.sqNormFixed(col("v")))
    val sim = VectorOps.dotFixed(col("a.v"), col("b.v")) /
      sqrt(col("a.n2") * col("b.n2"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"), sim.as("_sim"))
      .orderBy(col("_sim").desc, col("id1"), col("id2"))
      .limit(topN)
      .select(col("id1"), col("id2"), r4(col("_sim")).as("cosine"))
  }

  /** Embedding near-dup: top-N most-similar pairs by cosine. Exact
    * all-pairs here (the oracle-checked reference); use
    * `embeddingTopPairsLsh` at corpus scale. */
  def embeddingTopPairs(df: DataFrame, idCol: String, vecCol: String, topN: Int): DataFrame = {
    val e0 = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // precompute each row's squared norm once — the pair scan then does one
    // dot per pair instead of three (identical FP values: sqrt(na·nb) over
    // per-row sums matches the oracle's expression exactly). The streamed
    // side is re-spread if the scan under-partitions (single local file =
    // one nested-loop-join task otherwise).
    val e = graft.core.Tables.ensureParallelism(e0)
      .withColumn("n2", VectorOps.sqNormFixed(col("v")))
    val sim = VectorOps.dotFixed(col("a.v"), col("b.v")) /
      sqrt(col("a.n2") * col("b.n2"))
    e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"), sim.as("_sim"))
      .orderBy(col("_sim").desc, col("id1"), col("id2"))
      .limit(topN)
      .select(col("id1"), col("id2"), r4(col("_sim")).as("cosine"))
  }

  /** Incremental (cross-shard) dedup — the ingest-time shape: a NEW shard
    * of documents checked against the already-ingested corpus by content
    * hash. Within-shard dups keep the min id; survivors that collide with
    * any prior-corpus hash are dropped too. Per-lang summary
    * (n_new, n_dup_within, n_dup_vs_prior, n_ingested).
    *
    * Scale shape: both sides reduce to (hash, …) rows; the anti-join
    * shuffles on the 128-bit content hash — uniform by construction, and
    * the prior side carries ONE row per distinct hash (it pre-aggregates),
    * so the join never amplifies. No broadcast assumption: at 100 TB the
    * prior corpus is the big side and this stays a plain shuffled
    * anti-join. */
  def incremental(newDocs: DataFrame, prior: DataFrame, textCol: String,
                  idCol: String, byCol: String): DataFrame = {
    val h = md5(normText(col(textCol)))
    val priorH = prior.select(h.as("content_hash")).distinct()
    val n = newDocs.select(col(byCol).as("_by"), col(idCol).cast("long").as("_id"),
      h.as("content_hash"))
    val keepers = n.groupBy(col("_by"), col("content_hash"))
      .agg(min(col("_id")).as("_keep"), count(lit(1)).as("_copies"))
    val ingested = keepers.join(priorH, Seq("content_hash"), "left_anti")
    keepers.groupBy(col("_by")).agg(
        sum(col("_copies")).cast("long").as("n_new"),
        (sum(col("_copies")) - count(lit(1))).cast("long").as("n_dup_within"))
      .join(ingested.groupBy(col("_by"))
        .agg(count(lit(1)).cast("long").as("n_ingested")), Seq("_by"), "left")
      .select(col("_by").as(byCol), col("n_new"), col("n_dup_within"),
        (col("n_new") - col("n_dup_within") -
          coalesce(col("n_ingested"), lit(0L))).as("n_dup_vs_prior"),
        coalesce(col("n_ingested"), lit(0L)).as("n_ingested"))
  }

  /** Bloom-filter incremental dedup — the constant-size ingest index every
    * petabyte pipeline reaches for when even the one-row-per-hash table of
    * [[incremental]] is too big to join: the already-ingested corpus is
    * summarized as a bit set of size m, independent of corpus size, and a
    * new shard probes k bit positions per document. No false negatives by
    * construction (a true duplicate's positions are all set); false
    * positives are the bounded price, reported against the exact check so
    * the operator audits its own error.
    *
    * Deterministic md5 k-hash (position_i = md5(contentHash ‖ "_bloom_i")
    * mod m) instead of an engine-internal sketch, so the whole filter —
    * build, probe, and verdict — replays in SQL. The bit set is realized
    * as a DISTINCT position table (≤ m rows, saturating): joinable,
    * persistable through the same parquet discipline as
    * ModelIO.saveDedupIndex, and exactly the shape a packed bitmap
    * broadcast would check at serving time.
    *
    * Returns per-`byCol`: (n_new, n_definitely_new, n_maybe_dup,
    * n_true_dup, n_false_pos). */
  def bloomIncremental(newDocs: DataFrame, prior: DataFrame, textCol: String,
                       idCol: String, byCol: String,
                       m: Int = 1 << 18, k: Int = 3): DataFrame = {
    val h = md5(normText(col(textCol)))
    def posCols(hc: Column): Seq[Column] = (0 until k).map(i =>
      Num.md5Long(concat(hc, lit(s"_bloom_$i"))) % m)
    val bits = prior.select(h.as("_h"))
      .select(explode(array(posCols(col("_h")): _*)).as("pos"))
      .distinct()
    val newRows = newDocs.select(col(byCol).as("_by"),
      col(idCol).cast("long").as("_id"), h.as("_h"))
    // one probe row per (doc, hash-slot); a row survives the semi-join iff
    // its bit is set, so surviving-row count = k ⇔ every position set
    // (duplicate positions within a doc count once per slot on both sides)
    val probes = newRows.select(col("_by"), col("_id"),
      posexplode(array(posCols(col("_h")): _*)).as(Seq("_i", "pos")))
    val maybe = probes.join(bits, Seq("pos"), "left_semi")
      .groupBy(col("_by"), col("_id")).agg(count(lit(1)).as("_nhit"))
      .filter(col("_nhit") === k).select(col("_by"), col("_id"))
    val priorH = prior.select(h.as("_h")).distinct()
    val trueDup = newRows.join(priorH, Seq("_h"), "left_semi")
      .select(col("_by"), col("_id"))
    newRows.select(col("_by"), col("_id"))
      .join(maybe.withColumn("_maybe", lit(1)), Seq("_by", "_id"), "left")
      .join(trueDup.withColumn("_dup", lit(1)), Seq("_by", "_id"), "left")
      .groupBy(col("_by"))
      .agg(count(lit(1)).cast("long").as("n_new"),
        sum(when(col("_maybe").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_definitely_new"),
        sum(when(col("_maybe").isNotNull, 1L).otherwise(0L)).cast("long")
          .as("n_maybe_dup"),
        sum(when(col("_dup").isNotNull, 1L).otherwise(0L)).cast("long")
          .as("n_true_dup"),
        (sum(when(col("_maybe").isNotNull, 1L).otherwise(0L)) -
          sum(when(col("_dup").isNotNull, 1L).otherwise(0L))).cast("long")
          .as("n_false_pos"))
      .select(col("_by").as(byCol), col("n_new"), col("n_definitely_new"),
        col("n_maybe_dup"), col("n_true_dup"), col("n_false_pos"))
  }

  /** SemDeDup-shaped semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * partition the embedding space into cells, compare cosine similarity
    * only WITHIN a cell, and drop every member of a high-similarity pair
    * except one keeper (min id here; the paper keeps the point farthest
    * from the centroid — same retention count, deterministic either way).
    *
    * The quantizer is a set of k md5-derived Gaussian anchors
    * (nearest-by-dot) instead of a fitted k-means model: deterministic and
    * engine-replayable where MLlib centroids are seed-internal, with the
    * identical scale shape — the pair join keys on the cell id, so the
    * candidate count is Σ cell² rather than n². The Σ cell² bound only
    * holds if k grows with n (cells stay bounded): size k with
    * [[semDedupAnchors]] or call [[semDedupAuto]], which derives k from
    * the corpus count; this fixed-k overload is for callers that need an
    * engine-replayable plan (the SQL oracle must inline the k anchors).
    * Returns per-cell (cell, n, n_dropped). */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, k: Int, dim: Int,
               seed: Long, tau: Double): DataFrame = {
    val anchors = graft.neighbors.KNN.hyperplanes(k, dim, seed)
    // ONE BlockArgMaxDot against the k·dim anchors flattened into a single
    // literal array (r14; was an array of k dot expressions +
    // array_position(array_max)): k separate 64-literal dot trees stop
    // whole-stage-compiling past a few dozen anchors and the stage falls
    // back to INTERPRETED evaluation — measured 234 s for the k=2000
    // assign at n=200k, ~15 s once the assign is one codegen'd loop.
    // First-max tie semantics are identical (oracle: min(b) FILTER
    // (dt = max)).
    val base = graft.core.Tables.ensureParallelism(
        df.select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<double>").as("v")))
      .withColumn("cell",
        graft.functions.ArrayMath.blockArgMaxDot(col("v"), lit(anchors.flatten))
          .cast("int"))
      .withColumn("n2", VectorOps.sqNormFixed(col("v")))
    val sim = VectorOps.dotFixed(col("a.v"), col("b.v")) /
      sqrt(col("a.n2") * col("b.n2"))
    // a doc is dropped if ANY same-cell lower-id doc is ≥ tau similar;
    // comparison on the 4-decimal rounding (identical in both engines)
    val dropped = base.as("a").join(base.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(round(sim, 4) >= tau)
      .select(col("b.cell").as("cell"), col("b.id").as("id"))
      .distinct()
    base.groupBy(col("cell")).agg(count(lit(1)).cast("long").as("n"))
      .join(dropped.groupBy(col("cell")).agg(count(lit(1)).cast("long").as("n_dropped")),
        Seq("cell"), "left")
      .select(col("cell").cast("long").as("cell"), col("n"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** Anchor count for [[semDedup]] at corpus size n: k = ⌈n / targetCellSize⌉
    * keeps the EXPECTED cell size at targetCellSize, so the per-cell pair
    * join stays Σ cell² ≈ n·targetCellSize — linear in n, never n². Capped
    * (the anchor table is broadcast as literals: k·dim doubles) and floored
    * at 1. targetCellSize=1000 matches SemDeDup's per-cluster comparison
    * budget (Abbas et al. 2023 use k = n/160 on LAION — cells of ~160;
    * 10³ is the same order and keeps cell² work trivially cheap). */
  def semDedupAnchors(n: Long, targetCellSize: Long = 1000L,
                      maxAnchors: Int = 65536): Int =
    // overflow-safe ceil division (n near Long.MaxValue must not wrap)
    math.max(1L, math.min(maxAnchors.toLong,
      n / targetCellSize + (if (n % targetCellSize == 0) 0 else 1))).toInt

  /** [[semDedup]] with the anchor count derived from the corpus size —
    * the default entry point at scale (one metadata-cheap count, then the
    * fixed-k plan). Use the explicit-k overload only when the plan must be
    * replayed engine-neutrally with a pre-agreed k. */
  def semDedupAuto(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                   seed: Long, tau: Double,
                   targetCellSize: Long = 1000L): DataFrame =
    semDedup(df, idCol, vecCol,
      semDedupAnchors(df.count(), targetCellSize), dim, seed, tau)

  /** Two-level (IVF-style) SemDeDup quantizer. The flat [[semDedup]] costs
    * n·k dots at assign time (k = n/cellSize anchors, capped 65536) — fine
    * to ~10⁷ vectors, quadratic-ish constant past that. This splits the
    * quantizer into kc = ⌈√k⌉ coarse anchors and kf = ⌈k/kc⌉ fine anchors
    * PER coarse cell (total kc·kf ≥ k fine cells): each vector dots against
    * kc + kf ≈ 2√k anchors instead of k, so the assign stage is
    * O(n·√k·dim) — linear with a small constant at any corpus size, and
    * the 65536 cap can be lifted (default 2²⁴ cells → n ≈ 1.7 B vectors
    * at cellSize 100 before the cap binds).
    *
    * Plan shape at 100 TB: the coarse anchors are √k literals inlined into
    * one codegen'd projection (3163 anchors × dim at n = 10⁹ — a few MB of
    * constants); the fine anchors are a DISTRIBUTED md5-derived table of
    * kc·kf rows joined on the coarse cell (broadcast when small, else a
    * shuffle join whose base-side partitioning by coarse cell is exactly
    * the pair stage's cell partitioning coarsened), and the per-id argmax
    * is a map-side-combined max(struct) — the shuffle after the join is
    * ~n slim rows, not n·kf. Both anchor levels are md5-derived
    * (Box-Muller over md5 uniforms, like [[graft.neighbors.KNN.hyperplanes]])
    * so an external SQL engine replays the full assignment bit-for-bit —
    * the same oracle discipline as the flat quantizer.
    *
    * Fine anchor g (global index, cell id = g, coarse cell = g / kf) uses
    * seed strings "p_{seed}_f{g}_{i}_{a|b}" — the "f" infix keeps the fine
    * family disjoint from the coarse "p_{seed}_{b}_{i}_{a|b}" family.
    * Returns per-cell (cell, n, n_dropped) like [[semDedup]]. */
  def semDedupTwoLevel(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                       seed: Long, tau: Double, targetCellSize: Long = 100L,
                       maxCells: Int = 1 << 24): DataFrame = {
    // the overflow-split namespace below is (cell+1)·2²⁴ + pidx, which is
    // disjoint from base fine-cell ids only while kc·kf ≤ 2²⁴ — guard the
    // precondition instead of silently aliasing split cells (advice r14)
    require(maxCells <= (1 << 24),
      s"semDedupTwoLevel: maxCells=$maxCells exceeds 2^24 — the split " +
        "sub-cell namespace (cell+1)*2^24 would alias base cells")
    val spark = df.sparkSession
    val n = df.count()
    val kTotal = math.max(1L, math.min(maxCells.toLong,
      n / targetCellSize + (if (n % targetCellSize == 0) 0 else 1)))
    val kc = math.ceil(math.sqrt(kTotal.toDouble)).toInt
    val kf = ((kTotal + kc - 1) / kc).toInt

    // coarse assign: ONE BlockArgMaxDot against the kc·dim anchors
    // flattened into a single literal array. A per-anchor dot array +
    // array_position(array_max) stops whole-stage-compiling past a few
    // dozen anchors (45 separate 64-literal dot trees exceed the method
    // limit → the stage runs INTERPRETED, measured 650 µs/row); the block
    // expression is one compact codegen'd loop with the identical
    // first-max (= oracle min(b) FILTER dt = max) semantics.
    val coarse = graft.neighbors.KNN.hyperplanes(kc, dim, seed)
    val base = graft.core.Tables.ensureParallelism(
        df.select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<double>").as("v")))
      .withColumn("cc",
        graft.functions.ArrayMath.blockArgMaxDot(col("v"), lit(coarse.flatten)))

    // fine anchors: distributed table (g, coarse cell, anchor vector) —
    // same Box-Muller-over-md5 entries as hyperplanes, generated as
    // columns so no driver materialization at large k
    // fine anchors: ONE ROW PER COARSE CELL carrying its kf anchors
    // FLATTENED to kf·dim doubles — the BlockArgMaxDot operand. Three
    // lessons are baked into this shape (all measured at n = 200k):
    // (1) a per-(row, anchor) join + per-id argmax AGGREGATE is the wrong
    //     plan: struct-max buffers are not hash-aggregable, so Catalyst
    //     picks SortAggregate and sorts n·kf rows each dragging the full
    //     vector payload (210 s). The block expression does the identical
    //     arithmetic as one codegen'd projection per row — the
    //     flat-semdedup argmax shape (~2 s).
    // (2) the kf·dim Box-Muller entries as COLUMN EXPRESSIONS explode:
    //     2880 md5+conv trees in one projection OOM'd janino's compile.
    //     A scalar JVM loop per cell row, as IVF's cell assignment is —
    //     the same MessageDigest arithmetic as KNN.hyperplanes, so the
    //     oracle replay is bit-identical.
    // (3) localCheckpoint(true) MATERIALIZES the anchors: without the
    //     barrier CollapseProject pushes the generation through the join
    //     and every OUTPUT row regenerates its cell's anchors (206 s);
    //     the table is kc rows, ~0.5 MB per 1000 fine cells.
    val (kfv, dimv, seedv) = (kf, dim, seed)
    val genFine = udf { (fcc: Long) =>
      import java.security.MessageDigest
      def h(s: String): Long = {
        val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
      }
      Array.tabulate(kfv * dimv) { idx =>
        val g = fcc * kfv + idx / dimv
        val i = idx % dimv
        val u1 = (h(s"p_${seedv}_f${g}_${i}_a") % 1000000L) / 1000000.0 + 5e-7
        val u2 = (h(s"p_${seedv}_f${g}_${i}_b") % 1000000L) / 1000000.0
        math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
      }
    }
    val fineFlat = spark.range(kc.toLong).toDF("fcc")
      .withColumn("favs", genFine(col("fcc")))
      .localCheckpoint(true)
    // fine assign: join on the coarse cell, argmax = one native
    // expression per row (first-max ties = the oracle's min(g) rule)
    val assigned = base.join(fineFlat, base("cc") === fineFlat("fcc"))
      .select(col("id"), col("v"),
        (col("cc").cast("long") * kf +
          graft.functions.ArrayMath.blockArgMaxDot(col("v"), col("favs"))
            .cast("long")).as("cell"))
      .withColumn("n2", VectorOps.sqNormFixed(col("v")))
      // referenced 3× below (overflow counts + split assign + final join):
      // materialize the assign pass once instead of re-running it per
      // reference (MEMORY_AND_DISK — same working-set discipline as the
      // MinHash signature cache above)
      .cache()

    // OVERFLOW SPLIT — the data-adaptive step random anchors lack. On
    // clustered data (the SemDeDup norm: corpora have topic clusters) a
    // fitted k-means quantizer drops extra centroids into dense regions;
    // fitted centroids are seed-internal and not oracle-replayable, and
    // fresh RANDOM sub-anchors cannot split a tight cluster at all (the
    // cluster center dominates every dot, so all members argmax to the
    // same anchor — measured: a 600-point cluster re-quantized to ONE
    // sub-cell). Instead, any cell whose COUNT exceeds 4×target is split
    // by PIVOT MEMBERS: its ns = ⌈count/target⌉ (≤1024) members with the
    // smallest md5(id) become sub-anchors, and members move to the
    // NEAREST pivot by squared distance — one deterministic k-means-style
    // assignment step whose "centroids" lie inside the cluster by
    // construction. Fully replayable: pivot selection is an exact md5
    // rank, distances are per-row ops over stored doubles (no float
    // aggregation crosses the engine boundary). Measured on 10-cluster
    // organic data at n=200k: biggest cell 10,360 → pair mass 202M;
    // post-split cells ≈ target and the pair stage returns to Σ cell² ≈
    // target·n. Split sub-cells live in the disjoint id namespace
    // (cell+1)·2²⁴ + pidx (originals are < 2²⁴). Identical vectors have
    // identical distances → co-locate (ties break on pivot index); a
    // near-dup pair straddling a pivot boundary is missed — the same
    // approximation a fitted quantizer's cell boundary makes.
    val cap = 4L * targetCellSize
    val ovf = assigned.groupBy(col("cell")).agg(count(lit(1)).as("c"))
      .filter(col("c") > cap)
      .select(col("cell"),
        least(lit(1024L), (col("c") + targetCellSize - 1) / targetCellSize)
          .cast("int").as("ns"))
    val pvw = org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
      .orderBy(Num.md5Long(concat(lit(s"p_${seed}_pv_"), col("id").cast("string"))),
        col("id"))
    // one row per overflow cell with its pivots flattened in pidx order —
    // the BlockArgMinSqDist operand (≤ 1024·dim doubles per row); same
    // projection-not-aggregate reasoning as the fine assign above
    val pivotsFlat = assigned.join(ovf, Seq("cell"))
      .withColumn("pidx", row_number().over(pvw) - 1)
      .filter(col("pidx") < col("ns"))
      .groupBy(col("cell"))
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("pidx"), col("v")))),
        x => x.getField("v"))).as("pflat"))
      .localCheckpoint(true)
    val splitAssign = assigned.join(pivotsFlat, Seq("cell"))
      .select(col("id"),
        ((col("cell") + 1) * lit(16777216L) +
          graft.functions.ArrayMath.blockArgMinSqDist(col("v"), col("pflat"))
            .cast("long")).as("newcell"))
    val finalAssigned = assigned.join(splitAssign, Seq("id"), "left")
      .select(col("id"), col("v"),
        coalesce(col("newcell"), col("cell")).as("cell"), col("n2"))
      .cache()

    val sim = VectorOps.dotFixed(col("a.v"), col("b.v")) /
      sqrt(col("a.n2") * col("b.n2"))
    val dropped = finalAssigned.as("a").join(finalAssigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(round(sim, 4) >= tau)
      .select(col("b.cell").as("cell"), col("b.id").as("id"))
      .distinct()
    finalAssigned.groupBy(col("cell")).agg(count(lit(1)).cast("long").as("n"))
      .join(dropped.groupBy(col("cell"))
          .agg(count(lit(1)).cast("long").as("n_dropped")),
        Seq("cell"), "left")
      .select(col("cell"), col("n"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }
}
