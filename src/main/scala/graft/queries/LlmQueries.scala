package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.Vectors

/** LLM-data-pipeline queries (SURVEY §2.4 L1–L4 plus the training-data
  * operators mandated by the north star): dedup, text analysis,
  * similarity search over `documents.parquet` / `embeddings.parquet`.
  */
object LlmQueries {

  /** L1 — exact dedup: hash-groupBy on sha2(text), survivor = min doc_id.
    * At scale this is one shuffle on a 32-byte key; the full text never
    * shuffles (only hash + id), which is the point of hashing first. */
  def l1ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
      .orderBy("doc_id")

  /** L2 — text stats: token count (whitespace) + stored char count,
    * top-20 longest docs. */
  def l2TextStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"),
        col("n_chars"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .limit(20)

  /** L3 — similarity search: brute-force cosine top-5 neighbors of
    * vec_id 0. The one-row query side is broadcast, so the plan is a
    * map-only scan + TakeOrdered(5) — linear in corpus size, no shuffle;
    * this is the exact baseline the LSH/IVF variants are judged against.
    */
  def l3CosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(Vectors.cosine(col("embedding"), col("q_emb")), 9).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  /** L4 — near-dup pairs: cosine ≥ 0.45 over all vec_id<vec_id pairs,
    * computed by the fused codegen cosine (one pass per pair; norm
    * recompute inside the fused loop is cheaper than materializing
    * norms ever was with interpreted array folds). Brute force is the
    * exact, oracle-checkable baseline; the 100 TB pair-mining path is
    * the banded-LSH variants (s3_lsh_near_dup / s5_lsh_near_dup_prod)
    * which prune the candidate space first (s2 is point-query ANN). */
  def l4NearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // the corpus is one small parquet split, so the nested-loop join
    // would otherwise stream on ONE task — spread the probe side
    // (Tables.spread): the n² pair evaluations split across cores, the
    // broadcast side is whole either way
    val a = Tables.spread(spark, e)
      .select(col("vec_id").as("vec_id_a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vec_id_b"), col("embedding").as("eb"))
    a.join(b, col("vec_id_a") < col("vec_id_b"))
      .select(col("vec_id_a"), col("vec_id_b"),
        round(Vectors.cosine(col("ea"), col("eb")), 9).as("sim"))
      .filter(col("sim") >= 0.45)
      .orderBy("vec_id_a", "vec_id_b")
  }

  /** l5 — deterministic hash sampling: keep documents whose key hash
    * falls under a threshold (~10 % here). This is how a reproducible
    * training-data pipeline samples: membership is a pure function of
    * the key — stable across runs, cluster sizes, and partitionings
    * (a rand()-based sample is none of those) — and train/val splits
    * are disjoint hash ranges of the same function. Pure filter: scans,
    * never shuffles. */
  def l5HashSample(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .selectExpr("doc_id", FunctionQueries.kmvHashSpark("doc_id") + " AS h")
      .filter(col("h") < 100000000L)
      .select("doc_id")
      .orderBy("doc_id")

  /** l6 — STRATIFIED deterministic sampling: per-class keep rates over
    * the same hash-threshold mechanism as l5 (rare, valuable classes
    * kept whole; abundant ones downsampled) — the class-rebalancing
    * sample a training-data pipeline draws. Membership stays a pure
    * function of (key, class): reproducible across runs, cluster
    * sizes and partitionings, and still a pure scan-side filter — the
    * per-class threshold is a row-local CASE, so nothing shuffles and
    * no per-class pass is needed (a groupBy-then-sample spelling would
    * shuffle the whole table per epoch). */
  def l6StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .selectExpr("event_id", "event_type",
        FunctionQueries.kmvHashSpark("event_id") + " AS h")
      .filter(col("h") < expr("""CASE event_type
        WHEN 'purchase' THEN 1000000007 WHEN 'signup' THEN 1000000007
        WHEN 'click' THEN 100000000 WHEN 'view' THEN 200000000
        ELSE 500000000 END"""))
      .select("event_id", "event_type")
      .orderBy("event_id")

  /** l7 — SEQUENCE-PACKING bookkeeping: assign every document a
    * (shard, pack) slot under a fixed token budget — the step that
    * turns a curated corpus into training sequences. Documents are
    * hash-SHARDED first (pure function of doc_id, same stability story
    * as l5: membership survives reruns, cluster resizes and
    * repartitioning), then packed greedily in doc_id order within the
    * shard: a doc's pack is its running start offset integer-divided
    * by the 2048-token budget. The only wide operation is ONE window
    * per shard — partition-local sort, no global sort, no shuffle
    * beyond the shard exchange — and shards are independent, so at
    * 100 TB parallelism is the shard count (8 here for test data;
    * a real run uses ~#cores×k shards). Boundary docs straddle two
    * budget windows by design — the trainer's concat-and-split view —
    * so the bookkeeping stays a scan+window instead of a sequential
    * bin-packing loop no engine can parallelize. */
  def l7SequencePack(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .selectExpr("doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens",
        s"CAST(${FunctionQueries.kmvHashSpark("doc_id")} % 8 AS BIGINT) AS shard")
      .selectExpr("shard", "doc_id", "n_tokens",
        """CAST(coalesce(sum(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           DIV 2048 AS BIGINT) AS pack_id""")
      .orderBy("shard", "doc_id")

  /** l8 — CORPUS MIXING: downsample each source to a target token mix —
    * the step that turns "everything we crawled" into "the blend the
    * training run wants". Here the target is an equal token share per
    * source under a 40 % total-token budget: sources below their share
    * are kept whole, larger ones are hash-downsampled to it. Two-phase
    * shape a 100 TB pipeline runs: (1) one aggregate over (source,
    * token-count) — bytes shuffled follow the SOURCE COUNT, not the
    * corpus; (2) a scan-side filter with the tiny per-source threshold
    * table broadcast onto it; the text column never moves. Membership is
    * the l5 determinism story: a pure function of (doc_id, threshold),
    * reproducible across runs/cluster sizes/partitionings. Thresholds
    * are computed in pure INTEGER arithmetic (`LEAST(share, src_tokens)
    * * P DIV src_tokens`) so the oracle reproduces them bit-exactly;
    * the intermediate product needs src_tokens · P < 2⁶³ — fine up to
    * ~9 G tokens per source, beyond which a real deployment widens to
    * DECIMAL(38) (DuckDB's HUGEINT side already is). */
  def l8CorpusMix(spark: SparkSession, dir: String): DataFrame = {
    Tables.loadSpread(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(s"""
      WITH toks AS (SELECT doc_id, source,
                      CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens
                    FROM documents),
      tot AS (SELECT source, SUM(n_tokens) AS src_tokens FROM toks GROUP BY source),
      budget AS (SELECT (SUM(src_tokens) * 40) DIV 100 DIV COUNT(*) AS share FROM tot),
      rates AS (SELECT source,
                  (LEAST(share, src_tokens) * CAST(1000000007 AS BIGINT)) DIV src_tokens AS thresh
                FROM tot CROSS JOIN budget)
      SELECT /*+ BROADCAST(r) */ t.doc_id, t.source
      FROM toks t JOIN rates r ON t.source = r.source
      WHERE ${FunctionQueries.kmvHashSpark("t.doc_id")} < r.thresh
      ORDER BY t.doc_id""")
  }

  /** l9 — DECONTAMINATION: flag corpus documents that share any word
    * 3-gram with a benchmark/eval set (stand-in eval split here:
    * doc_id % 97 = 0) — the overlap check every serious training run
    * does before the corpus ships, so the model isn't graded on its own
    * training data. Shape built for 100 TB: the eval set is tiny by
    * construction, so its DISTINCT shingle-hash set is BROADCAST
    * (hinted) against the corpus's exploded (doc_id, 8-byte hash)
    * stream — the wide text never shuffles, and corpus cost is one
    * shingle-kernel scan (the same fused codegen `shingle_hashes` d1
    * uses). Output is per-doc shared-shingle counts — the evidence a
    * curation pipeline logs next to the drop decision, not just a
    * boolean. Docs under 3 tokens have no 3-grams and are clean by
    * definition on both engines. */
  def l9Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    Tables.loadSpread(spark, dir, "documents").createOrReplaceTempView("documents")
    // shingle kernel INLINE in the explodes (round 18): with ids as a
    // projected column, InferFiltersFromGenerate + pushdown re-ran the
    // kernel twice more per row inside the scan filter (the s3/d3
    // disease); a non-trivial generator child skips the inference
    spark.sql("""
      WITH toks AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
      eval_g AS (SELECT DISTINCT explode(shingle_hashes(w)) AS g FROM toks
                 WHERE size(w) >= 3 AND doc_id % 97 = 0),
      corpus_g AS (SELECT doc_id, explode(shingle_hashes(w)) AS g FROM toks
                   WHERE size(w) >= 3 AND doc_id % 97 <> 0)
      SELECT /*+ BROADCAST(e) */ c.doc_id, COUNT(*) AS n_shared
      FROM corpus_g c JOIN eval_g e ON c.g = e.g
      GROUP BY c.doc_id
      ORDER BY doc_id""")
  }

  /** l10 — TRAINING-ORDER GLOBAL SHUFFLE: give every document a
    * reproducible pseudo-random position — the epoch shuffle that
    * decorrelates training batches from crawl/ingest order. Order is a
    * pure function of (doc_id, epoch constant) through the same integer
    * hash as l5, so the permutation is reproducible across runs,
    * cluster sizes and partitionings, and a new epoch is just a new
    * constant — no state, no rand(), no reshuffling files. Position is
    * (shard, pos): hash-sharded, then ONE partition-local window per
    * shard ranks by (hash, doc_id) — l7's no-global-sort shape. At
    * 100 TB a total ORDER BY hash would range-repartition the corpus
    * through one sampled sort; this spelling's only wide op is the
    * 8-byte (doc_id, hash) shard exchange, shards are independent, and
    * the trainer reads shards round-robin for the interleave. */
  def l10GlobalShuffle(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .selectExpr("doc_id",
        s"CAST(${FunctionQueries.kmvHashSpark("(doc_id * 131 + 17)")} AS BIGINT) AS h")
      .selectExpr("doc_id", "h % 8 AS shard",
        "CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos")
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")

  /** l15 — corpus DATA CARD: the per-source quality/provenance report
    * every curated training set ships with (docs, token and char
    * volume, language spread, exact-duplication rate, mean doc length)
    * — the aggregation a pipeline runs LAST, after the t/d/l stages,
    * to document what was built. Scale shape: one scan computes per-doc
    * token counts and a 64-bit content fingerprint (the wide text
    * column never leaves the scan); duplicate detection is a
    * partial+final COUNT per fingerprint (8-byte keys) joined back to
    * the per-doc rows on that same 8-byte key; the final per-source
    * rollup is a 20-group aggregate. Ratios derive from exact integer
    * sums with one division at the end, so the 6dp round is cosmetic,
    * not load-bearing. */
  def l15DataCard(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(s"""
      WITH d AS (SELECT doc_id, source, lang, n_chars,
                   CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens,
                   ${graft.functions.TextPrimitives.rollingHashSpark("text")} AS fp
                 FROM documents),
      fpc AS (SELECT fp, COUNT(*) AS c FROM d GROUP BY fp)
      SELECT source,
        COUNT(*) AS n_docs,
        SUM(d.n_tokens) AS n_tokens,
        SUM(d.n_chars) AS n_chars,
        CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
        SUM(CASE WHEN fpc.c > 1 THEN 1 ELSE 0 END) AS n_dup_docs,
        round(CAST(SUM(CASE WHEN fpc.c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac,
        round(CAST(SUM(d.n_tokens) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE), 6) AS mean_tokens
      FROM d JOIN fpc ON d.fp = fpc.fp
      GROUP BY source ORDER BY source""")
  }

  /** l16 — CURRICULUM sampling: keep rates that depend on DATA-DERIVED
    * quality strata — the "sample easy docs lightly, keep the hard
    * tail" recipe curriculum/data-mixing work uses, and the composed
    * form of three existing capabilities: t2's quality score, x48's
    * histogram-quantile machinery (the bounded-state way to find the
    * corpus's score tertiles) and l5/l6's deterministic hash sampling.
    * Scale shape: one scan scores docs (scan-speed expression work); a
    * partial+final aggregate builds a ≤50-bucket score histogram whose
    * cumulative walk yields the two tertile cutoffs (the only
    * unpartitioned window runs over those ≤50 rows); the 1-row cutoff
    * frame broadcasts back onto the scored stream, and the keep
    * decision is a pure hash comparison — no sort, no per-doc state,
    * nothing corpus-sized crosses the wire except the scored id
    * stream. Deterministic end-to-end: score is 6dp-rounded, bucket
    * arithmetic is integer, and the sampler is the shared LCG hash. */
  /** The l16 CTE chain per dialect, ending in `sampled(doc_id,
    * stratum)` — shared with p4's composed release pipeline. */
  private[queries] def curriculumCtes(sparkDialect: Boolean): String = {
    import graft.functions.TextPrimitives._
    val w = if (sparkDialect) "split(text, ' ')" else "string_split(text, ' ')"
    val len = if (sparkDialect) s"size($w)" else s"length($w)"
    val stop = if (sparkDialect) stopHitsSpark(w, stopwords("en"))
               else stopHitsDuck(w, stopwords("en"))
    val punct = if (sparkDialect)
      "char_length(regexp_replace(text, '[A-Za-z0-9 ]', ''))"
    else "length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))"
    val hsh = if (sparkDialect) FunctionQueries.kmvHashSpark("sc.doc_id")
              else FunctionQueries.kmvHashDuck("sc.doc_id")
    s"""sc AS (
        SELECT doc_id,
          round(0.5 * stop_hits / n_tokens
              + 0.3 * least(1.0, n_tokens / 100.0)
              + 0.2 * (1.0 - punct / CAST(n_chars AS DOUBLE)), 6) AS s
        FROM (SELECT doc_id, n_chars,
                CAST($len AS BIGINT) AS n_tokens,
                CAST($stop AS DOUBLE) AS stop_hits,
                CAST($punct AS DOUBLE) AS punct
              FROM documents)
        WHERE n_tokens > 0),
      h AS (SELECT CAST(floor(s * 50) AS BIGINT) AS b, COUNT(*) AS c
            FROM sc GROUP BY CAST(floor(s * 50) AS BIGINT)),
      cum AS (SELECT b, SUM(c) OVER (ORDER BY b) AS cum, SUM(c) OVER () AS n FROM h),
      cuts AS (SELECT MIN(CASE WHEN cum * 3 >= n THEN b END) AS c1,
                      MIN(CASE WHEN cum * 3 >= 2 * n THEN b END) AS c2
               FROM cum),
      sampled AS (SELECT doc_id, stratum FROM (
        SELECT sc.doc_id,
               CASE WHEN CAST(floor(sc.s * 50) AS BIGINT) <= cuts.c1 THEN 'low'
                    WHEN CAST(floor(sc.s * 50) AS BIGINT) <= cuts.c2 THEN 'mid'
                    ELSE 'high' END AS stratum,
               $hsh AS hsh
        FROM sc CROSS JOIN cuts)
        WHERE hsh < CASE stratum WHEN 'low' THEN 200000001
                                 WHEN 'mid' THEN 500000003
                                 ELSE 1000000007 END)"""
  }

  def l16CurriculumSample(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(s"""
      WITH ${curriculumCtes(sparkDialect = true)}
      SELECT doc_id, stratum FROM sampled ORDER BY doc_id""")
  }

  /** l11 — TF-IDF keyword extraction: top-3 terms per document by an
    * integer tf-idf score — the signature/topic summary a curation
    * pipeline logs per doc (and the lexical half of hybrid retrieval).
    * Scores stay in INTEGER arithmetic (`tf · ((N·10⁶) div df)`) so the
    * oracle reproduces them bit-for-bit — no log(), no float idf.
    * Shuffle story at 100 TB: the wide text never moves — (doc_id,
    * term) counts shuffle once for tf, term-level df is a second small
    * aggregate, and the per-doc top-3 runs through the custom
    * TopKPerKey operator (map-side partial heaps, never a per-doc
    * sort). The df side is genuinely vocabulary-sized, so it
    * broadcasts; past the threshold AQE falls back to a shuffle join on
    * the term key. */
  def l11Tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"),
        expr("tf * ((n_docs * 1000000) DIV df)").as("score"))
    graft.plans.TopK.perKey(scored, Seq(col("doc_id")),
      Seq(col("score").desc, col("term")), k = 3)
      .select("doc_id", "term", "tf", "score")
      .orderBy(col("doc_id"), col("score").desc, col("term"))
  }

  /** l12 — PASSAGE CHUNKING: split every document into overlapping
    * 64-token windows on a 48-token stride — the retrieval-side
    * counterpart of l7's training-side packing (RAG indexes passages,
    * not documents; the overlap keeps answers that straddle a boundary
    * findable). Pure scan shape: one Generate (sequence + explode) per
    * row, chunk bookkeeping is row-local integer arithmetic, and the
    * only exchange is the presentation sort — at 100 TB chunking is
    * embarrassingly parallel and the text column never shuffles (the
    * manifest carries offsets, not copies). */
  def l12Chunk(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql("""
      WITH s AS (SELECT doc_id, split(text, ' ') AS w,
                        CAST(size(split(text, ' ')) AS BIGINT) AS n
                 FROM documents)
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        i * 48 + 1                         AS start_tok,
        least(CAST(64 AS BIGINT), n - i * 48) AS chunk_len,
        element_at(w, CAST(i * 48 + 1 AS INT)) AS head_tok
      FROM s LATERAL VIEW explode(sequence(CAST(0 AS BIGINT), (n - 1) DIV 48)) AS i
      ORDER BY doc_id, chunk_id""")
  }

  /** l13 — INT8 EMBEDDING QUANTIZATION: symmetric per-vector int8
    * quantization stats through the fused codegen
    * [[graft.functions.Int8QuantStats]] kernel — the compression step a
    * retrieval store runs before indexing 100 TB of embeddings (4×
    * smaller, int8 SIMD dot products), with the stats a quantization
    * job validates: scale, saturation count, q range and the
    * checksum-ish q_sum. Round-half-away is spelled via floor() so both
    * engines run identical IEEE ops (no round() tie-mode dependence),
    * and quantized values stay LONGs so no negative-zero double can
    * leak into the hash. Scan-shaped: one fused per-row loop, no
    * shuffle but the presentation sort. */
  def l13Quantize(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "embeddings").createOrReplaceTempView("embeddings")
    spark.sql("""
      SELECT vec_id, q.scale AS scale, q.q_sum AS q_sum,
             q.q_min AS q_min, q.q_max AS q_max, q.n_sat AS n_sat
      FROM (SELECT vec_id, int8_quant_stats(embedding) AS q FROM embeddings)
      ORDER BY vec_id""")
  }

  /** l14 — N-GRAM LM QUALITY SCORE (CCNet-shaped): score every corpus
    * document by how much of it a reference language model has seen —
    * here the model is the DISTINCT word-3-gram vocabulary of a
    * deterministic high-quality slice (`lang = 'en' AND doc_id % 7 = 0`,
    * the stand-in for the curated Wikipedia-style corpus CCNet trains
    * its KenLM on), and the score is integer type-coverage
    * (`n_known·1000 DIV n_types`, the OOV-rate complement) rather than a
    * float perplexity, so the oracle reproduces it bit-for-bit.
    *
    * Shape built for 100 TB: the reference slice is small by
    * construction, so its vocabulary of 8-byte shingle hashes is
    * BROADCAST (hinted) against the corpus's exploded (doc_id, hash)
    * stream — a LEFT join so zero-coverage documents keep their row
    * (they are exactly the ones the gate exists to drop). The wide text
    * column never shuffles: corpus cost is one fused shingle-kernel
    * scan (the same codegen `shingle_hashes` d1/l9 use) plus one
    * count aggregate on 16-byte (doc_id, n_types) keys. Documents
    * under 3 tokens have no 3-grams and are excluded identically on
    * both engines. */
  def l14LmScore(spark: SparkSession, dir: String): DataFrame = {
    Tables.loadSpread(spark, dir, "documents").createOrReplaceTempView("documents")
    // shingle kernel INLINE in the explodes (round 18, the l9/s3
    // recipe); n_types is recovered as COUNT(*) after the left join —
    // shingle_hashes is distinct by construction and vocab is
    // DISTINCT, so each (doc, h) row survives the join exactly once
    // and the group size IS size(g). Kernel evaluations per corpus
    // row: was 4 (size + explode + 2 inferred), now 1.
    spark.sql("""
      WITH toks AS (SELECT doc_id, lang, split(text, ' ') AS w FROM documents),
      vocab AS (SELECT DISTINCT explode(shingle_hashes(w)) AS v FROM toks
                WHERE size(w) >= 3 AND lang = 'en' AND doc_id % 7 = 0),
      corpus AS (SELECT doc_id, explode(shingle_hashes(w)) AS h FROM toks
                 WHERE size(w) >= 3 AND NOT (lang = 'en' AND doc_id % 7 = 0))
      SELECT /*+ BROADCAST(v) */ c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_types,
             COUNT(v.v) AS n_known,
             (COUNT(v.v) * 1000) DIV COUNT(*) AS permille
      FROM corpus c LEFT JOIN vocab v ON c.h = v.v
      GROUP BY c.doc_id
      ORDER BY doc_id""")
  }

  /** l17 — PER-DOMAIN document cap, the standard curation step between
    * quality scoring and mixing (C4/RefinedWeb-style source balancing):
    * cap every source/domain at N documents, keeping its
    * HIGHEST-QUALITY ones (t2's score, doc_id tie-break) — without it
    * one over-crawled domain dominates the training distribution no
    * matter what the mixer (l8) later does about token shares.
    *
    * Shape built for 100 TB: the score is a per-row scan expression
    * (the shared t2 CTE — one spelling, no drift), and the per-source
    * argtop-N runs through the custom TopKPerKey operator whose
    * map-side partial pass cuts every partition to ≤ sources·N narrow
    * candidate rows BEFORE the only exchange — never a row_number
    * window sorting the corpus, and the wide text column never
    * shuffles (the manifest is id + score; the cut job anti-joins it
    * back by doc_id, the d5 pattern). N = 15 binds at every test SF
    * (25–250 docs/source). */
  def l17DomainCap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    Tables.loadSpread(spark, dir, "documents").createOrReplaceTempView("documents")
    val scored = spark.sql(
      s"WITH ${TextQueries.qualityCteSpark} SELECT doc_id, source, score FROM scored")
    graft.plans.TopK.perKey(scored, Seq(col("source")),
      Seq(col("score").desc, col("doc_id")), k = 15)
      .select(col("source"), col("doc_id"), col("score"))
      .orderBy("source", "doc_id")
  }

  /** The Spark spelling of one merge application to the space-joined
    * symbol string in column `c`, with the pair in columns (ml, mr) —
    * [[bpeApplySpark]] generalized to arbitrary column names. The
    * layered chain built from this IS l22's semantics; since the
    * chain's interpreted lambdas measured 14.9× wall on the second
    * scaling decade, production l22 runs the fused
    * [[graft.functions.BpeApplyCount]] kernel and ExpressionsSpec
    * pins kernel ≡ chain on real corpus data. */
  private[graft] def bpeApplyLayer(c: String, ml: String, mr: String): String =
    s"""aggregate(slice(split($c, ' '), 2, size(split($c, ' ')) - 1),
                  element_at(split($c, ' '), 1),
                  (acc, s) -> ${bpeMergeFold("endswith", ml, mr)})"""

  /** l22 — BPE TOKENIZER APPLY: tokenize the corpus with the merge
    * table l19 just learned — the train→apply round trip a tokenizer
    * pipeline ships (l19 produces the artifact; l22 is the job that
    * consumes it at corpus scale). Each document's words are split to
    * characters and the 8 learned merges are applied IN TRAINING
    * ORDER (BPE apply is order-sensitive — each layer is the same
    * greedy fold as training, so train and apply cannot disagree on
    * merge semantics); emitted counts are the resulting symbols per
    * doc — the sequence length a model trained on this vocabulary
    * would see.
    *
    * Scale shape: training runs once (vocab-table loop, see l19), its
    * 8-pair result rides ONE broadcast row, and application is a pure
    * per-row expression chain inside the scan — text never shuffles,
    * no join keyed on anything corpus-sized. The oracle reuses the
    * l19 twin's m0–m7 CTEs (same MATERIALIZED chain) and applies the
    * SAME fold text per layer, so a train/apply divergence is
    * structurally impossible to hide. */
  def l22BpeApply(spark: SparkSession, dir: String): DataFrame = {
    // the memoized artifact — training runs once per (session, dir),
    // not once per apply call (round-9; see learnedMerges)
    val merges = learnedMerges(spark, dir).map { case (_, l, r, _) => (l, r) }
    // application is ONE fused-kernel call per row inside the scan —
    // the learned pairs are constructor parameters (no SQL-literal
    // injection surface, no crossJoin needed); the layered fold-chain
    // spelling this replaces is pinned as its spec in ExpressionsSpec
    Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.BpeApplyCount(col("text"), merges).as("n_trained_tokens"))
      .orderBy("doc_id")
  }

  /** l23 — REPETITION REMOVAL: collapse runs of consecutive identical
    * tokens — the cleanup transform t7 only MEASURES (its repeat
    * fraction flags docs; l23 repairs the simplest, most common class
    * in place — stutter artifacts from scraped markup and template
    * expansion; higher n-gram-run collapse composes the same shape).
    * Emits before/after counts plus the cleaned text's rolling-hash
    * fingerprint (the t4 convention), so the transform's OUTPUT — not
    * just its bookkeeping — is oracle-gated without shipping wide
    * strings through the driver's sorter.
    *
    * Pure scan shape: the keep rule is a per-row indexed filter
    * (token i survives iff i = 0 or token ≠ its predecessor), the
    * fingerprint a fused kernel — no shuffle before the presentation
    * sort; at 100 TB this runs at scan speed like t1–t9. */
  def l23RepeatCollapse(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(s"""
      WITH t AS (SELECT doc_id, filter(split(text, ' '), w -> w <> '') AS w FROM documents),
      c AS (SELECT doc_id, CAST(size(w) AS BIGINT) AS n_before,
              filter(w, (x, i) -> i = 0 OR x <> element_at(w, i)) AS cw
            FROM t)
      SELECT doc_id, n_before, CAST(size(cw) AS BIGINT) AS n_after,
             ${graft.functions.TextPrimitives.rollingHashSpark("array_join(cw, ' ')")} AS fp
      FROM c ORDER BY doc_id""")
  }

  /** l20 — WEIGHT-PROPORTIONAL sampling without replacement, per
    * source: Duffield/Lund/Thorup PRIORITY SAMPLING (JACM 2007) —
    * priority q_i = w_i / u_i with u_i uniform on (0,1], keep the k
    * largest priorities per group. Higher-quality documents are
    * proportionally more likely to be drawn (the "sample good docs
    * harder" curation step between l5's uniform and l17's hard cap),
    * and the published estimator makes any subset-sum over the sample
    * unbiased. Completes the sampling family: l5 uniform, l6
    * stratified-rate, l16 curriculum, l20 weight-proportional.
    *
    * Determinism: u_i = (h(doc_id)+1)/P from the shared KMV hash (a
    * pure function of the key — reproducible across runs, cluster
    * sizes and partitionings, like every sampler here), w_i = the
    * shared t2 score (6dp-stable) floored at 1e-6; the priority is one
    * division of identical doubles, so the CUT is bit-identical
    * cross-engine — and the emitted columns carry no new rounding at
    * all. Scale shape = l17's: a TopKPerKey heap per source (partial
    * heaps before the exchange), never a corpus-wide window; the text
    * column never shuffles. */
  def l20WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    Tables.loadSpread(spark, dir, "documents").createOrReplaceTempView("documents")
    val prioritized = spark.sql(s"""
      WITH ${TextQueries.qualityCteSpark}
      SELECT doc_id, source, score,
             greatest(score, 0.000001) /
               (CAST((${FunctionQueries.kmvHashSpark("doc_id")}) + 1 AS DOUBLE) / 1000000007) AS pr
      FROM scored""")
    graft.plans.TopK.perKey(prioritized, Seq(col("source")),
      Seq(col("pr").desc, col("doc_id")), k = 10)
      .select(col("source"), col("doc_id"), col("score"))
      .orderBy("source", "doc_id")
  }

  /** l21 — SEMANTIC decontamination: flag training documents whose
    * embedding is suspiciously close to any eval-set embedding — the
    * paraphrase-robust complement of l9's exact 13-gram overlap (a
    * reworded eval question shares no n-grams but keeps its
    * embedding; production pipelines run BOTH gates). Same eval-set
    * convention as l9 (doc_id ≡ 0 mod 97; embeddings are id-aligned);
    * emits the contamination report: each flagged doc's single
    * closest eval item at cosine ≥ 0.35 (on this synthetic corpus the
    * natural top ~2% tail — the threshold is the deployment's
    * calibration knob; the GATE arithmetic is what the oracle checks).
    *
    * Scale shape: the eval set is small by construction, so it
    * broadcasts whole and the train side is ONE map-only scan with
    * the fused cosine kernel — no shuffle until the per-doc argmax,
    * which is a TopKPerKey(k=1) heap over already-thresholded rows.
    * The 100 TB path swaps the brute-force probe for the s2 LSH index
    * at the same report shape. */
  def l21SemanticDecon(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val e = Tables.load(spark, dir, "embeddings")
    val ev = e.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ev_emb"))
    val tr = Tables.spread(spark,
      e.filter(col("vec_id") % 97 =!= 0)
        .select(col("vec_id").as("doc_id"), col("embedding")))
    val scored = tr.crossJoin(broadcast(ev))
      .select(col("doc_id"), col("eval_id"),
        round(Vectors.cosine(col("embedding"), col("ev_emb")), 9).as("sim"))
      .filter(col("sim") >= 0.35)
    graft.plans.TopK.perKey(scored, Seq(col("doc_id")),
      Seq(col("sim").desc, col("eval_id")), k = 1)
      .select("doc_id", "eval_id", "sim")
      .orderBy("doc_id")
  }

  /** l18 — sequence packing budgeted in SUBWORD tokens: l7's
    * shard-then-greedy-pack bookkeeping with t10's tokenizer-accurate
    * counter in place of the whitespace count. This is the number a
    * real packing job budgets with — whitespace counts under-estimate
    * sequence length by the subword fan-out (~1.3–2× on English), so
    * a 2048-budget pack built on them overflows the model's context
    * window at tokenize time. Same scale shape as l7: the counter is
    * a per-row fused-kernel scan, the running offset is one window
    * per hash shard (shards are independent — at 100 TB parallelism
    * is the shard count, and no global sort or corpus-wide window
    * exists anywhere). */
  /** The shard + greedy-pack bookkeeping, ONE spelling per dialect
    * for every packing consumer (l18, p7): the kmv 8-way hash shard
    * and the partition-local running-sum window DIV the 2048 budget.
    * A budget or frame change lands everywhere at once — the same
    * shared-text discipline as bpeApplyCountsSelect. */
  private[queries] def packIdSpark(tok: String): String =
    s"""CAST(coalesce(sum($tok) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           DIV 2048 AS BIGINT) AS pack_id"""

  private[queries] def packIdDuck(tok: String): String =
    s"""CAST(COALESCE(SUM($tok) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS pack_id"""

  private[queries] def shardSpark(id: String): String =
    s"CAST(${FunctionQueries.kmvHashSpark(id)} % 8 AS BIGINT) AS shard"

  private[queries] def shardDuck(id: String): String =
    s"CAST((${FunctionQueries.kmvHashDuck(id)}) % 8 AS BIGINT) AS shard"

  def l18SubwordPack(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents")
      .selectExpr("doc_id",
        "subword_count(lower(text)) AS n_tokens",
        shardSpark("doc_id"))
      .selectExpr("shard", "doc_id", "n_tokens", packIdSpark("n_tokens"))
      .orderBy("shard", "doc_id")
  }

  /** Rounds of BPE merge learning in l19 — enough to exercise
    * multi-char symbol formation (merged symbols re-enter later pair
    * counts) while keeping the unrolled DuckDB twin readable. */
  private[queries] val bpeRounds = 8

  /** ONE spelling of the greedy leftmost-non-overlapping merge fold,
    * shared between the Spark lambda and the DuckDB twin so the
    * application semantics cannot diverge. `acc` is the space-joined
    * output symbols so far, `s` the incoming symbol, `ml`/`mr` the
    * round's winning pair (captured row columns, so no literal
    * escaping is ever needed). Greedy correctness: a merge fires iff
    * the LAST emitted symbol is exactly `ml` (symbols never contain
    * spaces, so the `acc = ml OR ends_with(acc, ' ' || ml)` test is an
    * exact last-symbol match) — and a just-merged symbol `ml || mr`
    * can never equal `ml` (mr is non-empty), so consumed positions
    * never re-merge: this IS Sennrich's left-to-right scan. */
  private def bpeMergeFold(endsWith: String, ml: String = "ml", mr: String = "mr"): String =
    s"""CASE WHEN (acc = $ml OR $endsWith(acc, ' ' || $ml)) AND s = $mr
       THEN substring(acc, 1, length(acc) - length($ml)) || $ml || $mr
       ELSE acc || ' ' || s END"""

  /** The Spark spelling of one merge application over the symbol
    * string `w` given the 1-row pair columns (ml, mr): seed the fold
    * with the first symbol and fold the rest — the exact semantics of
    * DuckDB's binary list_reduce, so the shared CASE text behaves
    * identically on both engines. Exposed for the BpeTrainSpec edge
    * cases (overlap runs, no re-merge of just-created symbols). */
  private[graft] def bpeApplySpark: String = bpeApplyLayer("w", "ml", "mr")

  /** l19 — BPE tokenizer TRAINING: learn the first [[bpeRounds]] merge
    * rules from the corpus (Sennrich et al. 2016) — the job that
    * produces the vocabulary t10/l18 then tokenize with. Emits one row
    * per learned merge: (merge_round, left_sym, right_sym, cnt).
    *
    * Scale shape — the reason industrial trainers (SentencePiece,
    * HuggingFace tokenizers) are structured exactly this way: the
    * corpus is scanned ONCE, into a word-frequency table (Heaps' law:
    * vocabulary grows ~√corpus, so at 100 TB this is a few hundred
    * million short rows — cluster-trivial); every subsequent round
    * touches only that table: one pair-explode + SUM shuffle keyed on
    * (l, r) symbol pairs, an argmax head(1) (the driver state is the
    * merge table itself — k pairs, the trained ARTIFACT, the s12
    * pattern), and a broadcast-literal map applying the merge via a
    * per-row fold. Each round's table is lineage-truncated through the
    * releasable-checkpoint seam — without it round k's plan re-executes
    * all k−1 predecessors per reference (the x65/x70 CTE lesson), and
    * through it the reliable-checkpoint flag buys executor-churn
    * tolerance for free. Tie-break on (cnt DESC, l, r) makes the learned
    * vocabulary deterministic across engines and cluster sizes. */
  /** The learned merge table, MEMOIZED per (session, dir) — the
    * round-9 fix for l22 re-running the full 8-round training loop on
    * every invocation (round-8 verdict item 2). The value is the
    * trained ARTIFACT itself (8 driver-side rows, never row data — the
    * s12/kmeansState pattern), so no cache-sweep liveness guard is
    * needed; stopped sessions are evicted so a session-cycling process
    * can't pin dead SparkSessions. Training runs ONCE per session and
    * l22/p7 and repeated l19 calls all read the same table. */
  private val mergesMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Seq[(Long, String, String, Long)]]()

  /** Test hook: see [[AnnQueries.clearTrainingMemo]] — lets the
    * scaling harness time real training runs. */
  private[graft] def clearTrainingMemo(): Unit = mergesMemo.clear()

  /** Guards the memo's check-then-act: two concurrent first callers
    * would otherwise each run the full training loop with the last
    * put winning — correct but duplicated work (ADVICE r9). */
  private val trainLock = new Object

  /** Build counter for the stored merge table (lifecycle pin). */
  private[graft] val mergesBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] def learnedMerges(
      spark: SparkSession, dir: String): Seq[(Long, String, String, Long)] = trainLock.synchronized {
    mergesMemo.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val key = (spark, dir)
    val cached = mergesMemo.get(key)
    if (cached != null) return cached
    // round 11: behind the memo sits the STORED merge table (the
    // kmeans_q discipline) — a tokenizer is trained once per corpus
    // version and every later JVM READS the released artifact; all
    // cells are longs/strings, so the roundtrip is exact. The memo
    // stays in front as the per-session cache.
    val fp = graft.core.ArtifactStore.fingerprint(dir, Seq("documents.parquet"),
      Seq(s"bpe=v1:rounds=$bpeRounds"))
    val df = graft.core.ArtifactStore.getOrBuild(spark, "bpe_merges_v1", fp, dir, mergesBuilds) { _ =>
      import spark.implicits._
      trainMerges(spark, dir).toDF("merge_round", "left_sym", "right_sym", "cnt")
    }
    val learned = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    mergesMemo.put(key, learned)
    learned
  }

  def l19BpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    learnedMerges(spark, dir)
      .toDF("merge_round", "left_sym", "right_sym", "cnt")
      .orderBy("merge_round")
  }

  private def trainMerges(
      spark: SparkSession, dir: String): Seq[(Long, String, String, Long)] = {
    import spark.implicits._
    // per-round snapshots go through the same releasable-checkpoint
    // seam as the CC loop: local by default, fault-tolerant storage
    // under spark.graft.checkpoint.reliable=true (+ setCheckpointDir)
    // for cluster runs with expected executor churn — exercised by the
    // l19 ChaosRecoverySpec scenario. Superseded rounds release as
    // soon as their successor is on disk, so peak footprint is two
    // vocab-table snapshots.
    var (w, held) = org.apache.spark.sql.GraftShims.checkpointReleasable(
      Tables.load(spark, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("n"))
        .select(concat_ws(" ", split(col("word"), "")).as("w"), col("n")))
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= bpeRounds && !exhausted) {
      val top = w.select(col("n"), split(col("w"), " ").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("n"), explode(expr(
          """zip_with(slice(syms, 1, size(syms) - 1),
                      slice(syms, 2, size(syms) - 1),
                      (a, b) -> struct(a AS l, b AS r))""")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .head(1)
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((round.toLong, l, r, cnt))
        // the final round's merge is learned but never APPLIED — the
        // post-application vocab table would only feed a round that
        // doesn't run, and checkpointReleasable materializes eagerly,
        // so applying it would spend a full (if vocab-sized) pass +
        // a reliable-checkpoint write on dead work
        if (round < bpeRounds) {
          val m = Seq((l, r)).toDF("ml", "mr")
          val (wNext, rNext) = org.apache.spark.sql.GraftShims.checkpointReleasable(
            w.crossJoin(broadcast(m))
              .select(expr(bpeApplySpark).as("w"), col("n")))
          held.unpersist(false)
          w = wNext
          held = rNext
        }
        round += 1
      }
    }
    held.unpersist(false)
    merges.result()
  }

  /** l24 — TOKENIZER EVALUATION: the per-source report a tokenizer
    * release ships next to p7's manifest — document/word/char/trained-
    * token totals and the two numbers a tokenizer is judged by:
    * fertility (trained tokens per 1000 words — subword fan-out) and
    * compression (chars per 1000 trained tokens). Per SOURCE because
    * that's how coverage gaps show: a vocabulary trained on one domain
    * tokenizes another at visibly worse fertility, and this table is
    * where that regression is read. Completes the train→apply→eval
    * loop: l19 learns the artifact, l22/p7 apply it, l24 measures it
    * (the s15 eval idea applied to the tokenizer family).
    *
    * Ratios are integer permille via DIV (the x71 greatest-guard, the
    * d16 integer-ratio convention) so every emitted cell is exact
    * cross-engine — no float division to match. Scale shape: ONE scan
    * with the fused apply kernel + two per-row expressions, one
    * sources-sized aggregate — map-side collapse, text never
    * shuffles; consumes the memoized merge table, so a release job
    * running l19/l22/p7/l24 together trains once. */
  def l24TokenizerEval(spark: SparkSession, dir: String): DataFrame = {
    val merges = learnedMerges(spark, dir).map { case (_, l, r, _) => (l, r) }
    Tables.loadSpread(spark, dir, "documents")
      .select(col("source"),
        expr("CAST(size(filter(split(text, ' '), w -> w <> '')) AS BIGINT)").as("w"),
        expr("CAST(char_length(replace(text, ' ', '')) AS BIGINT)").as("ch"),
        graft.functions.BpeApplyCount(col("text"), merges).as("tt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
        sum("ch").as("n_chars"), sum("tt").as("n_trained_tokens"))
      .selectExpr("source", "n_docs", "n_words", "n_chars", "n_trained_tokens",
        "n_trained_tokens * 1000 DIV greatest(n_words, 1) AS fertility_permille",
        "n_chars * 1000 DIV greatest(n_trained_tokens, 1) AS chars_per_kilotoken")
      .orderBy("source")
  }

  /** l25 — corpus MIXTURE PLANNING: per-source sampling rates that
    * rebalance the corpus toward temperature-flattened domain shares —
    * the decision job run BEFORE l5/l17/p3 downsample anything. Target
    * share of source s ∝ A_s^(1/T) with T = 2 (the multilingual
    * pretraining convention — upsample the tail, damp the head) and a
    * total budget B = half the available tokens; rate_s clamps at 1
    * (can't sample more than exists). l8 MEASURES a mix; l25 CHOOSES
    * one.
    *
    * Cross-engine determinism: weights are floor(sqrt(A)·1000) —
    * sqrt is IEEE-CORRECTLY-rounded (unlike ln/exp/pow, which is why
    * T is 2 and not 1.7), so the quantized weight is bit-identical;
    * totals are exact integer sums; the rate is a fixed-order
    * double expression over exact integers, floored to micro units.
    * Scale shape: one scan → a sources-sized integer aggregate
    * (map-side collapse), totals as ONE broadcast row — the solver
    * runs on the answer, never the corpus. */
  def l25MixPlan(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.loadSpread(spark, dir, "documents")
      .selectExpr("source",
        "CAST(size(filter(split(text, ' '), w -> w <> '')) AS BIGINT) AS toks")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens_available"))
      .selectExpr("source", "n_docs", "tokens_available",
        "CAST(floor(sqrt(CAST(tokens_available AS DOUBLE)) * 1000) AS BIGINT) AS weight_milli")
    val tot = per.agg(sum("weight_milli").as("wsum"),
      sum("tokens_available").as("asum"))
    per.crossJoin(broadcast(tot))
      .selectExpr("source", "n_docs", "tokens_available", "weight_milli",
        """least(CAST(1000000 AS BIGINT), CAST(floor(
             CAST(asum DIV 2 AS DOUBLE) * CAST(weight_milli AS DOUBLE)
             / CAST(greatest(wsum, 1) AS DOUBLE)
             / CAST(greatest(tokens_available, 1) AS DOUBLE) * 1000000.0)
           AS BIGINT)) AS rate_micro""")
      .selectExpr("source", "n_docs", "tokens_available", "weight_milli",
        "rate_micro",
        "rate_micro * tokens_available DIV 1000000 AS expected_tokens")
      .orderBy("source")
  }

  /** l26 — mixture plan EXECUTION: the downsampling job that applies
    * l25's per-source rates with the l5 deterministic-hash coin
    * (keep iff kmv_hash(doc_id) mod 10⁶ < rate_micro) — reproducible
    * across runs, cluster sizes and partitionings, and composable
    * (the kept manifest is ids + bookkeeping; the wide text column
    * never moves). Plan rides ONE broadcast row per source. */
  def l26MixApply(spark: SparkSession, dir: String): DataFrame = {
    val plan = l25MixPlan(spark, dir).select(col("source"), col("rate_micro"))
    Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .join(broadcast(plan), "source")
      .filter(expr(s"(${FunctionQueries.kmvHashSpark("doc_id")}) % 1000000 < rate_micro"))
      .select(col("source"), col("doc_id"))
      .orderBy("source", "doc_id")
  }

  /** l27 — BIGRAM-LM QUALITY scoring: the perplexity-filter shape
    * (CCNet / the LLaMA corpus pipeline — score every document under
    * a language model trained on a trusted reference, gate on the
    * score) realized in exact integer arithmetic. This is the
    * LIKELIHOOD complement of l14's coverage gate: l14 asks "has the
    * reference SEEN this document's n-grams" (binary type coverage,
    * the OOV-rate complement), while l27 asks "how PROBABLE are this
    * document's word transitions under the reference's counts" —
    * frequency-weighted, so a document assembled from individually
    * common words in improbable orders (template spam, shuffled
    * text, keyword stuffing) scores low even at full l14 coverage.
    * Real pipelines run both for exactly this reason. The reference
    * split is the held 1/97 slice (l9's convention: doc_id ≡ 0 mod
    * 97 — standing in for the Wikipedia-grade reference a real
    * pipeline trains on); its bigram MLE table c(w1,w2)/c(w1·) is the
    * model, and every OTHER document scores the mean conditional
    * probability of its bigrams in integer micro-units:
    * p_micro = c(pair)·10⁶ DIV c(left), score = Σp DIV n_bigrams —
    * no log/exp (libm-divergent cross-engine), monotone in the
    * geometric-mean-free spirit of the gate it feeds (a threshold on
    * this score is a threshold on perplexity's job: flagging
    * documents whose word transitions the reference never makes).
    * Unseen pair or unseen left word → 0, exactly the smoothing-free
    * MLE convention, which is also what makes the arithmetic exact.
    *
    * Scale shape: the corpus side is ONE scan exploded to bigram
    * keys; the model is reference-bounded (at 100 TB the LM table is
    * the vocabulary of the trusted slice, not the corpus) and enters
    * as a BROADCAST left join; the per-doc aggregate collapses
    * map-side. The reference-side aggregates touch 1/97 of the
    * corpus twice (pair + left counts) — both id/count-width. */
  def l27BigramQuality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val toks = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), expr("filter(split(text, ' '), x -> x <> '')").as("w"))
      .filter(size(col("w")) >= 2)
    val bg = toks.select(col("doc_id"),
      explode(expr("zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), (a, b) -> concat(a, ' ', b))")).as("pair"))
    val refBg = bg.filter(col("doc_id") % 97 === 0)
    val refPairs = refBg.groupBy("pair").agg(count(lit(1)).as("c_pair"))
    val refLefts = refBg
      .select(element_at(split(col("pair"), " "), 1).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c_left"))
    val refTab = refPairs
      .join(refLefts, element_at(split(col("pair"), " "), 1) === col("w1"))
      .select(col("pair"), col("c_pair"), col("c_left"))
    bg.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(refTab), Seq("pair"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("coalesce(c_pair * 1000000 DIV c_left, 0)")).as("p_sum"))
      .selectExpr("doc_id", "n_bigrams", "p_sum DIV n_bigrams AS lm_score_micro")
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "l27_bigram_quality" -> (l27BigramQuality _),
    "l25_mix_plan" -> (l25MixPlan _),
    "l26_mix_apply" -> (l26MixApply _),
    "l24_tokenizer_eval" -> (l24TokenizerEval _),
    "l19_bpe_train"    -> (l19BpeTrain _),
    "l20_weighted_sample" -> (l20WeightedSample _),
    "l21_semantic_decon" -> (l21SemanticDecon _),
    "l22_bpe_apply"    -> (l22BpeApply _),
    "l23_repeat_collapse" -> (l23RepeatCollapse _),
    "l18_subword_pack" -> (l18SubwordPack _),
    "l17_domain_cap"   -> (l17DomainCap _),
    "l1_exact_dedup"   -> (l1ExactDedup _),
    "l2_text_stats"    -> (l2TextStats _),
    "l3_cosine_topk"   -> (l3CosineTopk _),
    "l4_near_dup_pairs" -> (l4NearDupPairs _),
    "l5_hash_sample"   -> (l5HashSample _),
    "l6_stratified_sample" -> (l6StratifiedSample _),
    "l7_sequence_pack" -> (l7SequencePack _),
    "l8_corpus_mix"    -> (l8CorpusMix _),
    "l9_decontaminate" -> (l9Decontaminate _),
    "l10_global_shuffle" -> (l10GlobalShuffle _),
    "l15_data_card"      -> (l15DataCard _),
    "l16_curriculum_sample" -> (l16CurriculumSample _),
    "l11_tfidf"          -> (l11Tfidf _),
    "l12_chunk"          -> (l12Chunk _),
    "l13_quantize"       -> (l13Quantize _),
    "l14_lm_score"       -> (l14LmScore _),
  )

  /** The l19 twin: the same train loop UNROLLED as a MATERIALIZED CTE
    * chain (the s12 k-means-unroll pattern). MATERIALIZED is load-
    * bearing: w_i is referenced twice per round (pair counts + merge
    * application), so inlined CTEs would re-run the corpus scan 2^k
    * times. The merge application is [[bpeMergeFold]] verbatim — the
    * only dialect differences are list-function names and that
    * DuckDB's binary list_reduce seeds from the first element, which
    * the Spark spelling reproduces exactly via
    * aggregate(slice(syms, 2, ...), element_at(syms, 1), ...). */
  /** The training CTE chain (w0, p_i, m_i, w_{i+1}) without a final
    * SELECT — shared by the l19 twin (reads the m_i merge rows) and
    * the l22 twin (joins the same m_i into its apply layers, so the
    * applied merges are definitionally the learned ones). */
  private[queries] def bpeCtesDuck: String = {
    val roundCtes = (0 until bpeRounds).map { i =>
      s"""p$i AS MATERIALIZED (
        SELECT u.p.l AS l, u.p.r AS r, CAST(SUM(u.n) AS BIGINT) AS cnt
        FROM (SELECT n, unnest(list_transform(range(1, len(syms)), j ->
                struct_pack(l := syms[j], r := syms[j + 1]))) AS p
              FROM (SELECT n, string_split(w, ' ') AS syms FROM w$i) s
              WHERE len(syms) >= 2) u
        GROUP BY u.p.l, u.p.r),
      m$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
      w${i + 1} AS MATERIALIZED (
        SELECT list_reduce(string_split(t.w, ' '), (acc, s) ->
                 ${bpeMergeFold("ends_with", "m.l", "m.r")}) AS w,
               t.n
        FROM w$i t CROSS JOIN m$i m)"""
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
      SELECT array_to_string(string_split(word, ''), ' ') AS w,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      WHERE word <> ''
      GROUP BY word),
    $roundCtes"""
  }

  private def bpeTrainDuck: String = {
    val unions = (0 until bpeRounds).map { i =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS merge_round, l AS left_sym, r AS right_sym, cnt FROM m$i"
    }.mkString("\n        UNION ALL ")
    s"""WITH $bpeCtesDuck
    SELECT * FROM (
      $unions
    ) ORDER BY merge_round"""
  }

  /** The l22 twin: per-document apply of the SAME m0–m7 the training
    * chain learned, one nested-fold layer per merge in training
    * order — the fold text is [[bpeMergeFold]] again, word-scoped via
    * list_transform exactly like the Spark spelling. */
  /** The per-document apply-count SELECT (no WITH, no ORDER BY) —
    * reads the m0–m7 CTEs of [[bpeCtesDuck]]; shared by the l22 twin
    * and p7's release twin so the applied tokenizer is definitionally
    * the trained one in both. */
  private[queries] def bpeApplyCountsSelect: String = {
    // scalar-subquery + coalesce('') per merge: if training exhausts
    // before round i (m_i empty — the l19 exhaustion edge), a bare
    // CROSS JOIN m_i would annihilate the whole documents relation;
    // the ('','') fallback is a guaranteed NO-OP merge instead (acc is
    // never '' — it seeds from a non-empty symbol — and no symbol
    // equals ''), so the twin applies exactly the k real merges the
    // Spark side learned
    val mJoins = (0 until bpeRounds).map(i =>
      s"""CROSS JOIN (SELECT coalesce((SELECT l FROM m$i), '') AS m${i}l,
                             coalesce((SELECT r FROM m$i), '') AS m${i}r) a$i""").mkString(" ")
    val allCols = (0 until bpeRounds).flatMap(i => Seq(s"m${i}l", s"m${i}r"))
    var inner = s"""SELECT doc_id,
        list_transform(list_filter(string_split(text, ' '), w -> w <> ''),
          wd -> array_to_string(string_split(wd, ''), ' ')) AS c0,
        ${allCols.mkString(", ")}
      FROM documents $mJoins"""
    for (i <- 0 until bpeRounds) {
      val keep = ((i + 1) until bpeRounds).flatMap(j => Seq(s"m${j}l", s"m${j}r"))
      inner = s"""SELECT doc_id,
          list_transform(c$i, wd -> list_reduce(string_split(wd, ' '), (acc, s) ->
            ${bpeMergeFold("ends_with", s"m${i}l", s"m${i}r")})) AS c${i + 1}
          ${if (keep.nonEmpty) ", " + keep.mkString(", ") else ""}
        FROM ($inner)"""
    }
    s"""SELECT doc_id,
      -- c_N is NULL iff text was NULL (an empty doc yields [], not
      -- NULL): restate Spark's null propagation, and coalesce ONLY
      -- the empty-list case to 0
      CASE WHEN c$bpeRounds IS NULL THEN NULL
           ELSE CAST(coalesce(list_sum(list_transform(c$bpeRounds,
                  wd -> len(string_split(wd, ' ')))), 0) AS BIGINT) END AS n_trained_tokens
    FROM ($inner)"""
  }

  private def bpeApplyDuck: String =
    s"""WITH $bpeCtesDuck
    $bpeApplyCountsSelect
    ORDER BY doc_id"""

  /** The l25 plan CTEs (per-source aggregate + totals + rate), shared
    * by the l25 twin and l26's apply twin — one spelling of the
    * temperature-2 arithmetic. The rate expression keeps the SAME
    * operator order as the Spark selectExpr (exact integer inputs →
    * fixed-order IEEE ops → bit-identical doubles → identical floor). */
  private def mixPlanCtesDuck: String =
    s"""per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(CAST(length(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT)) AS BIGINT) AS tokens_available
          FROM documents GROUP BY source),
      perw AS (SELECT source, n_docs, tokens_available,
            CAST(floor(sqrt(CAST(tokens_available AS DOUBLE)) * 1000) AS BIGINT) AS weight_milli
          FROM per),
      tot AS (SELECT CAST(SUM(weight_milli) AS BIGINT) AS wsum,
                     CAST(SUM(tokens_available) AS BIGINT) AS asum FROM perw),
      plan AS (SELECT source, n_docs, tokens_available, weight_milli,
            least(CAST(1000000 AS BIGINT), CAST(floor(
              CAST(asum // 2 AS DOUBLE) * CAST(weight_milli AS DOUBLE)
              / CAST(greatest(wsum, 1) AS DOUBLE)
              / CAST(greatest(tokens_available, 1) AS DOUBLE) * 1000000.0)
            AS BIGINT)) AS rate_micro
          FROM perw, tot)"""

  val oracleSql: Map[String, String] = Map(
    "l19_bpe_train" -> bpeTrainDuck,
    "l22_bpe_apply" -> bpeApplyDuck,
    "l25_mix_plan" ->
      s"""WITH $mixPlanCtesDuck
      SELECT source, n_docs, tokens_available, weight_milli, rate_micro,
             CAST(rate_micro * tokens_available // 1000000 AS BIGINT) AS expected_tokens
      FROM plan ORDER BY source""",
    // l27: the same bigram keys (adjacent-pair concat — the p4/p3
    // oracle pattern), the same integer MLE micro-units and the same
    // DIV arithmetic (// in DuckDB; all values non-negative so floor
    // and truncate agree) — every output cell exact
    "l27_bigram_quality" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
             FROM documents),
      bg AS (SELECT doc_id, unnest(list_transform(range(1, length(w)), i -> w[i] || ' ' || w[i + 1])) AS pair
             FROM toks WHERE length(w) >= 2),
      refp AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS c_pair FROM bg
               WHERE doc_id % 97 = 0 GROUP BY pair),
      refl AS (SELECT string_split(pair, ' ')[1] AS w1, CAST(COUNT(*) AS BIGINT) AS c_left
               FROM bg WHERE doc_id % 97 = 0 GROUP BY 1),
      reft AS (SELECT p.pair, p.c_pair, l.c_left FROM refp p
               JOIN refl l ON string_split(p.pair, ' ')[1] = l.w1),
      scored AS (SELECT b.doc_id, COUNT(*) AS nb,
                   SUM(COALESCE(r.c_pair * 1000000 // r.c_left, 0)) AS ps
                 FROM bg b LEFT JOIN reft r ON r.pair = b.pair
                 WHERE b.doc_id % 97 <> 0 GROUP BY b.doc_id)
      SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams,
             CAST(ps // nb AS BIGINT) AS lm_score_micro
      FROM scored ORDER BY doc_id""",
    "l26_mix_apply" ->
      s"""WITH $mixPlanCtesDuck
      SELECT d.source, d.doc_id FROM documents d JOIN plan p ON p.source = d.source
      WHERE (${FunctionQueries.kmvHashDuck("d.doc_id")}) % 1000000 < p.rate_micro
      ORDER BY d.source, d.doc_id""",
    // l24: the l19 chain + the shared apply-count select joined back
    // to documents for source, then integer sums + DIV permille — the
    // same composition discipline as p7, so the measured tokenizer is
    // definitionally the trained one. The CASTs collapse DuckDB's
    // HUGEINT sums to Spark's BIGINT.
    "l24_tokenizer_eval" ->
      s"""WITH $bpeCtesDuck,
      counts AS ($bpeApplyCountsSelect),
      per AS (SELECT d.source,
                CAST(length(list_filter(string_split(d.text, ' '), w -> w <> '')) AS BIGINT) AS w,
                CAST(length(replace(d.text, ' ', '')) AS BIGINT) AS ch,
                c.n_trained_tokens AS tt
              FROM documents d JOIN counts c ON c.doc_id = d.doc_id),
      agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(w) AS BIGINT) AS n_words, CAST(SUM(ch) AS BIGINT) AS n_chars,
                CAST(SUM(tt) AS BIGINT) AS n_trained_tokens
              FROM per GROUP BY source)
      SELECT source, n_docs, n_words, n_chars, n_trained_tokens,
             CAST(n_trained_tokens * 1000 // greatest(n_words, 1) AS BIGINT) AS fertility_permille,
             CAST(n_chars * 1000 // greatest(n_trained_tokens, 1) AS BIGINT) AS chars_per_kilotoken
      FROM agg ORDER BY source""",
    // l23: same keep rule with DuckDB's 1-BASED lambda index (Spark's
    // is 0-based — the two guards i=0 / i=1 and predecessors
    // element_at(w, i) / w[i-1] address the SAME neighbor), same
    // rolling-hash constants over the same rebuilt string
    "l23_repeat_collapse" ->
      s"""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
             FROM documents),
      c AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_before,
              list_filter(w, (x, i) -> i = 1 OR x <> w[i - 1]) AS cw
            FROM t)
      SELECT doc_id, n_before, CAST(len(cw) AS BIGINT) AS n_after,
             ${graft.functions.TextPrimitives.rollingHashDuck("array_to_string(cw, ' ')")} AS fp
      FROM c ORDER BY doc_id""",
    // the row_number spelling of the same priority cut — shared t2
    // score CTE, shared hash, the SAME single-division priority text,
    // so the kept set is bit-identical
    "l20_weighted_sample" ->
      s"""WITH ${TextQueries.qualityCteDuck},
      pri AS (SELECT doc_id, source, score,
                greatest(score, 0.000001) /
                  (CAST((${FunctionQueries.kmvHashDuck("doc_id")}) + 1 AS DOUBLE) / 1000000007) AS pr
              FROM scored),
      ranked AS (SELECT source, doc_id, score,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY pr DESC, doc_id) AS rn
                 FROM pri)
      SELECT source, doc_id, score FROM ranked WHERE rn <= 10
      ORDER BY source, doc_id""",
    // l7's pack bookkeeping over the shared t10 subword-count CTE
    // chain — same greedy rule, same vocabulary literal, same window
    // arithmetic (// is DuckDB integer division; the CAST collapses
    // its HUGEINT window sums to Spark's BIGINT)
    "l18_subword_pack" ->
      s"""WITH RECURSIVE ${TextQueries.subwordCtesDuck},
      t AS (SELECT doc_id, n_subword AS n_tokens, ${shardDuck("doc_id")}
        FROM swc)
      SELECT shard, doc_id, n_tokens, ${packIdDuck("n_tokens")}
      FROM t ORDER BY shard, doc_id""",
    // the row_number spelling of TopKPerKey(k=15) over the shared t2
    // score CTE — same score arithmetic, same (score desc, doc_id)
    // tie-break, so the kept set is deterministic on both engines
    "l17_domain_cap" ->
      s"""WITH ${TextQueries.qualityCteDuck},
      ranked AS (SELECT source, doc_id, score,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY score DESC, doc_id) AS rn
        FROM scored)
      SELECT source, doc_id, score FROM ranked WHERE rn <= 15
      ORDER BY source, doc_id""",
    // same fingerprint (shared rolling-hash constants), same integer
    // sums; DuckDB's HUGEINT sums collapse back to BIGINT by CAST
    "l15_data_card" ->
      (s"""WITH d AS (SELECT doc_id, source, lang, n_chars,
             CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ${graft.functions.TextPrimitives.rollingHashDuck("text")} AS fp
           FROM documents),
      fpc AS (SELECT fp, COUNT(*) AS c FROM d GROUP BY fp)
      SELECT source,
        COUNT(*) AS n_docs,
        CAST(SUM(d.n_tokens) AS BIGINT) AS n_tokens,
        CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
        CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
        CAST(SUM(CASE WHEN fpc.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        round(CAST(SUM(CASE WHEN fpc.c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac,
        round(CAST(SUM(d.n_tokens) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE), 6) AS mean_tokens
      FROM d JOIN fpc ON d.fp = fpc.fp
      GROUP BY source ORDER BY source"""),
    "l1_exact_dedup" ->
      "SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text ORDER BY doc_id",
    // same t2 score arithmetic, same integer histogram/tertile walk,
    // same LCG hash thresholds — restated in the DuckDB dialect
    "l16_curriculum_sample" ->
      s"""WITH ${curriculumCtes(sparkDialect = false)}
      SELECT doc_id, stratum FROM sampled ORDER BY doc_id""",
    "l2_text_stats" ->
      ("SELECT doc_id, CAST(length(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens, " +
        "n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 20"),
    // Cosine is spelled out at double precision (CAST AS DOUBLE before the
    // fold) so it is bit-identical to Spark's zip_with/aggregate version —
    // DuckDB's builtin list_cosine_similarity computes in float32 and
    // would NOT hash-match. Both sides then round to 9dp: the two
    // engines' fold orders can differ by 1 ULP (~1e-16), far below the
    // rounding grain.
    // l21: same list-cosine spelling as l3/l4, per-doc argmax as the
    // row_number spelling, same 0.35 threshold literal
    "l21_semantic_decon" ->
      ("""SELECT doc_id, eval_id, sim FROM (
        SELECT a.vec_id AS doc_id, b.vec_id AS eval_id,
          ROUND(""" + cosSql("a", "b") + """, 9) AS sim,
          ROW_NUMBER() OVER (PARTITION BY a.vec_id
            ORDER BY ROUND(""" + cosSql("a", "b") + """, 9) DESC, b.vec_id) AS rn
        FROM embeddings a, embeddings b
        WHERE a.vec_id % 97 <> 0 AND b.vec_id % 97 = 0
          AND ROUND(""" + cosSql("a", "b") + """, 9) >= 0.35) t
      WHERE rn = 1 ORDER BY doc_id"""),
    "l3_cosine_topk" ->
      ("SELECT b.vec_id, ROUND(" + cosSql("a", "b") + ", 9) AS sim " +
        "FROM embeddings a, embeddings b WHERE a.vec_id = 0 AND b.vec_id <> 0 " +
        "ORDER BY sim DESC, b.vec_id LIMIT 5"),
    "l4_near_dup_pairs" ->
      ("SELECT * FROM (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, " +
        "ROUND(" + cosSql("a", "b") + ", 9) AS sim " +
        "FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id) t " +
        "WHERE sim >= 0.45 ORDER BY vec_id_a, vec_id_b"),
    "l5_hash_sample" ->
      ("SELECT doc_id FROM (SELECT doc_id, " +
        FunctionQueries.kmvHashDuck("doc_id") + " AS h FROM documents) t " +
        "WHERE h < 100000000 ORDER BY doc_id"),
    "l6_stratified_sample" ->
      ("SELECT event_id, event_type FROM (SELECT event_id, event_type, " +
        FunctionQueries.kmvHashDuck("event_id") + " AS h FROM events) t " +
        """WHERE h < CASE event_type
          WHEN 'purchase' THEN 1000000007 WHEN 'signup' THEN 1000000007
          WHEN 'click' THEN 100000000 WHEN 'view' THEN 200000000
          ELSE 500000000 END
        ORDER BY event_id"""),
    // the same shard-then-greedy-pack bookkeeping: running start
    // offset (window sum up to 1 PRECEDING) integer-divided by the
    // 2048-token budget; // is DuckDB's integer division, and the
    // outer CAST collapses its HUGEINT window-sum arithmetic to
    // Spark's BIGINT
    "l7_sequence_pack" ->
      ("""WITH t AS (SELECT doc_id,
          CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          CAST((""" + FunctionQueries.kmvHashDuck("doc_id") + """) % 8 AS BIGINT) AS shard
        FROM documents)
      SELECT shard, doc_id, n_tokens,
        CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS pack_id
      FROM t ORDER BY shard, doc_id"""),
    // the same integer-exact threshold arithmetic (DuckDB's SUM is
    // HUGEINT; // is floor division, identical to Spark's DIV on the
    // non-negative values here); output columns are raw table columns,
    // so no cross-engine type collapse is needed
    "l8_corpus_mix" ->
      ("""WITH toks AS (SELECT doc_id, source,
            CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents),
      tot AS (SELECT source, SUM(n_tokens) AS src_tokens FROM toks GROUP BY source),
      budget AS (SELECT (SUM(src_tokens) * 40) // 100 // COUNT(*) AS share FROM tot),
      rates AS (SELECT source,
                  (LEAST(share, src_tokens) * 1000000007) // src_tokens AS thresh
                FROM tot CROSS JOIN budget)
      SELECT t.doc_id, t.source
      FROM toks t JOIN rates r ON t.source = r.source
      WHERE """ + FunctionQueries.kmvHashDuck("t.doc_id") + """ < r.thresh
      ORDER BY t.doc_id"""),
    // eval split = doc_id % 97 = 0; same shingle + rolling-hash
    // arithmetic as the dedup suite, restated over DuckDB lists
    "l9_decontaminate" ->
      (s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      sh AS (SELECT doc_id, ${graft.functions.TextPrimitives.shinglesDuck("w")} AS s
             FROM toks WHERE length(w) >= 3),
      ids AS (SELECT doc_id, list_distinct(list_transform(s, g -> ${graft.functions.TextPrimitives.rollingHashDuck("g")})) AS ids FROM sh),
      eval_g AS (SELECT DISTINCT unnest(ids) AS g FROM ids WHERE doc_id % 97 = 0),
      corpus_g AS (SELECT doc_id, unnest(ids) AS g FROM ids WHERE doc_id % 97 <> 0)
      SELECT c.doc_id, COUNT(*) AS n_shared
      FROM corpus_g c JOIN eval_g e ON c.g = e.g
      GROUP BY c.doc_id
      ORDER BY doc_id"""),
    // same integer tf-idf arithmetic (// is DuckDB floor division,
    // identical to Spark's DIV on these non-negative values); same
    // (score DESC, term) tie-break, row_number spelling of the top-3
    "l11_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
      dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      scored AS (SELECT t.doc_id, t.term, t.tf,
          CAST(t.tf * ((n_docs * 1000000) // df) AS BIGINT) AS score
        FROM tf t JOIN dfq USING (term) CROSS JOIN nd),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, term) AS rn FROM scored)
      SELECT doc_id, term, tf, score FROM r WHERE rn <= 3
      ORDER BY doc_id, score DESC, term""",
    // same chunk grid: starts 1 + 48·i while start ≤ n, row-local
    // integer arithmetic on both engines
    "l12_chunk" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS w,
                    CAST(length(string_split(text, ' ')) AS BIGINT) AS n
                 FROM documents),
      e AS (SELECT doc_id, w, n, unnest(range(0, (n - 1) // 48 + 1)) AS i FROM s)
      SELECT doc_id, i AS chunk_id, i * 48 + 1 AS start_tok,
        least(64, n - i * 48) AS chunk_len,
        w[CAST(i * 48 + 1 AS INT)] AS head_tok
      FROM e ORDER BY doc_id, chunk_id""",
    // same quantization arithmetic, spelled per element: scale is an
    // exact max of |float→double| (no rounding needed), q via the same
    // floor(|x|/s·127 + 0.5) ops in the same order, kept integer
    "l13_quantize" ->
      """WITH q AS (SELECT vec_id,
            list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
            embedding FROM embeddings),
      qq AS (SELECT vec_id, scale,
          list_transform(embedding, x -> CAST(
            CASE WHEN scale = 0 THEN 0
                 WHEN x < 0 THEN -floor(abs(CAST(x AS DOUBLE)) / scale * 127 + 0.5)
                 ELSE floor(abs(CAST(x AS DOUBLE)) / scale * 127 + 0.5) END
            AS BIGINT)) AS ql
        FROM q)
      SELECT vec_id, scale,
        CAST(COALESCE(list_sum(ql), 0) AS BIGINT)                       AS q_sum,
        CAST(COALESCE(list_min(ql), 0) AS BIGINT)                       AS q_min,
        CAST(COALESCE(list_max(ql), 0) AS BIGINT)                       AS q_max,
        CAST(COALESCE(length(list_filter(ql, v -> abs(v) >= 127)), 0) AS BIGINT) AS n_sat
      FROM qq ORDER BY vec_id""",
    // same reference slice, same distinct-hash vocabulary (the double
    // list_distinct mirrors ShingleHashes' distinct-on-hashes), same
    // integer coverage arithmetic; // is DuckDB floor division and the
    // CAST collapses its HUGEINT product to Spark's BIGINT
    "l14_lm_score" ->
      (s"""WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      sh AS (SELECT doc_id, lang, ${graft.functions.TextPrimitives.shinglesDuck("w")} AS s
             FROM toks WHERE length(w) >= 3),
      ids AS (SELECT doc_id, lang,
                list_distinct(list_transform(s, g -> ${graft.functions.TextPrimitives.rollingHashDuck("g")})) AS g
              FROM sh),
      vocab AS (SELECT DISTINCT unnest(g) AS v FROM ids
                WHERE lang = 'en' AND doc_id % 7 = 0),
      corpus AS (SELECT doc_id, CAST(length(g) AS BIGINT) AS n_types, unnest(g) AS h
                 FROM ids WHERE NOT (lang = 'en' AND doc_id % 7 = 0))
      SELECT c.doc_id, c.n_types, COUNT(v.v) AS n_known,
             CAST((COUNT(v.v) * 1000) // c.n_types AS BIGINT) AS permille
      FROM corpus c LEFT JOIN vocab v ON c.h = v.v
      GROUP BY c.doc_id, c.n_types
      ORDER BY doc_id"""),
    // epoch-17 permutation restated: same integer hash, same
    // (hash, doc_id) rank within the hash-mod-8 shard
    "l10_global_shuffle" ->
      (s"""SELECT doc_id, shard, pos FROM (
        SELECT doc_id, h % 8 AS shard,
          ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
        FROM (SELECT doc_id, ${FunctionQueries.kmvHashDuck("(doc_id * 131 + 17)")} AS h
              FROM documents) t) s
      ORDER BY shard, pos"""),
  )

  /** DuckDB double-precision cosine between `$l.embedding` and
    * `$r.embedding`, association-order-matched to [[Vectors.cosine]]. */
  private def cosSql(l: String, r: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, length($x.embedding) + 1), " +
        s"k -> CAST($x.embedding[k] AS DOUBLE) * CAST($y.embedding[k] AS DOUBLE)))"
    s"${dot(l, r)} / sqrt(${dot(l, l)}) / sqrt(${dot(r, r)})"
  }
}
