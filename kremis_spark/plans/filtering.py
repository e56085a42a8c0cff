"""Model-based filtering and substring-level dedup approximations — the
data-selection layer of a 100 TB pretraining pipeline, on top of the
dedup/quality families in plans/pipeline.py:

- ``pipe_dup_ngram_coverage`` — per-document duplicated 8-gram fraction
  vs all earlier documents: the distributed approximation of
  substring-level exact dedup (Lee et al. 2022, "Deduplicating Training
  Data Makes Language Models Better", arXiv:2107.06499 — their
  ExactSubstr pass). A suffix array is not a data-parallel structure;
  the shingle-grain equivalent (fraction of a doc's 8-grams first seen
  in an earlier doc) IS, and is the standard large-scale stand-in.
- ``pipe_hash_classifier`` — hashed-bag-of-words linear quality scorer,
  the fastText-style classifier filter used by GPT-3/CCNet-lineage
  pipelines, with a deterministic md5-derived weight table so the score
  is exactly reproducible in any engine (a trained coefficient table
  would be broadcast the same way; the plan shape is identical).
- ``pipe_importance_weights`` — DSIR-style hashed-unigram importance
  weighting (Xie et al. 2023, arXiv:2302.03169): score each document by
  how much its token distribution looks like a target domain vs the
  corpus at large, in exact integer ppm arithmetic.

Determinism/oracle parity: md5 is the portable hash (same hex in Spark
and DuckDB); all ratios are integer ppm/permille via floor division of
NONNEGATIVE quantities only (Spark ``div`` truncates toward zero while
DuckDB ``//`` floors, so negative intermediate divisions are never
emitted — sums of signed weights are reported undivided).

Scale notes: every query here is explode → partial-agg groupBy →
hash-join on the grouping key → partial-agg groupBy, the
map-side-combinable shape that survives a 1000-executor corpus. Nothing
collects to the driver; the only broadcast is implicit (AQE picks it
when the vocabulary side is small enough).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kremis_spark import memo as M

NGRAM_N = 8  # ExactSubstr-approximation shingle width (words)
PERC_EPOCHS = 3  # full-batch perceptron epochs (pipe_perceptron_step)
CLS_BUCKETS = 2001  # hashed-weight table size → weights in [-1000, 1000]
DSIR_TARGET_SOURCE = "src0"  # stand-in "target domain" for the gate
DSIR_TOP_K = 20


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared parallel+cached docs table (plans/pipeline.py): the
    # testdata is one parquet row group → 2 input splits, which would
    # run this module's CPU-heavy explode/hash stages nearly
    # single-threaded (measured: pipe_hash_classifier 10.8 s → ~1 s at
    # sf1). On a real cluster maxPartitionBytes provides the splits and
    # the repartition is a no-op cost next to the hash work.
    from kremis_spark.plans.pipeline import _docs_parallel

    return _docs_parallel(spark, sf_dir)


def _toks() -> F.Column:
    # built lazily — Column construction needs an active SparkContext
    return F.split(F.trim(F.col("text")), r"\s+")


def _gram_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, 8-gram md5) fact — the SAME relation as the
    session-memoized eval-decon gram index in plans/curation.py
    (identical whitespace tokenizer, window width, separator, and hash;
    `word_shingles` additionally guards sub-window docs exactly like
    this family's oracles' ``len(w) >= 8`` predicate). Consuming that
    memo replaces the explode+md5+distinct pass these two gates rebuilt
    per call (guide §2.4)."""
    from kremis_spark.plans.curation import _decon_grams

    return _decon_grams(spark, sf_dir).select(
        "doc_id", F.col("h").alias("g")
    )


def _gram_firsts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide first-seen doc per gram — the other stage
    dup_ngram_coverage and ngram_novelty_curve share; one groupBy over
    the shared gram fact, materialized once per (session, dataset)."""

    def build() -> DataFrame:
        return M.checkpoint(
            _gram_fact(spark, sf_dir)
            .groupBy("g")
            .agg(F.min("doc_id").alias("first_doc"))
        )

    return M.memo("pipe_gram_firsts", spark, sf_dir, build)


def q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-8-gram coverage against all LOWER doc_ids: for
    each document, the fraction (permille) of its distinct word 8-grams
    whose corpus-wide first occurrence is an earlier document. Documents
    shorter than 8 tokens have no grams and report 0.

    Distributed shape: one explode to distinct (doc_id, gram-md5) rows,
    one groupBy(gram) for the global first-seen doc, one join back on
    the same key (co-partitioned — AQE reuses the exchange), one
    groupBy(doc_id). All four stages are partial-agg/hash-join; gram
    cardinality shards evenly because the key is a hash."""
    docs = _docs(spark, sf_dir)
    grams = _gram_fact(spark, sf_dir)
    firsts = _gram_firsts(spark, sf_dir)
    per = (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("first_doc") < F.col("doc_id")).cast("long")
            ).alias("n_dup"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
            F.expr(
                "CAST(coalesce(n_dup, 0) * 1000"
                " div greatest(coalesce(n_grams, 0), 1) AS LONG)"
            ).alias("dup_permille"),
        )
        .orderBy("doc_id")
    )


def q_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-unigram linear classifier: weight(w) = (first 32 md5 bits
    mod CLS_BUCKETS) − 1000 ∈ [−1000, 1000]; a document's score is the
    sum of its tokens' weights (repeats count — bag of words) and it is
    kept iff score ≥ 0. Deterministic stand-in for a trained fastText
    quality filter: swap the md5-derived weight for a broadcast
    coefficient table and the plan is unchanged.

    Distributed shape: fully map-side — the weight is computed inline
    per token (no vocabulary join at all), then one partial-agg
    groupBy(doc_id). This is the cheapest possible classifier plan: at
    100 TB it is a single scan."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode(_toks()).alias("tok")
    )
    w = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % CLS_BUCKETS
        - 1000
    )
    return (
        tok.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(w).cast("long").alias("score_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "score_sum",
            (F.col("score_sum") >= 0).cast("long").alias("keep"),
        )
        .orderBy("doc_id")
    )


def q_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scores: unigram frequency is estimated in
    ppm over the target domain (source = DSIR_TARGET_SOURCE) and over
    the whole corpus; each token contributes (target_ppm − corpus_ppm)
    and the doc's score is the signed sum. Top DSIR_TOP_K docs by score
    (tie → lower doc_id) — the selection set a pipeline would feed to
    training. Integer ppm floor-division of nonnegative counts only.

    Distributed shape: ONE groupBy(tok) computes both corpus and target
    counts (conditional sum — no second pass over the target), the two
    totals reduce to scalars, the token stream re-joins the tiny
    weight table on tok, then one groupBy(doc_id) into a TakeOrdered
    top-k. No driver loops; the weight table join is AQE-broadcastable
    when the vocabulary fits, plain hash-join when it doesn't."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", "source", F.explode(_toks()).alias("tok")
    ).transform(M.ephemeral_checkpoint)
    is_t = (F.col("source") == DSIR_TARGET_SOURCE).cast("long")
    counts = tok.groupBy("tok").agg(
        F.count(F.lit(1)).alias("c_all"),
        F.sum(is_t).alias("c_tgt"),
    )
    totals = counts.agg(
        F.sum("c_all").alias("t_all"), F.sum("c_tgt").alias("t_tgt")
    ).first()
    t_all, t_tgt = max(int(totals["t_all"]), 1), max(int(totals["t_tgt"]), 1)
    weights = counts.select(
        "tok",
        (
            F.expr(f"CAST(c_tgt * 1000000 div {t_tgt} AS LONG)")
            - F.expr(f"CAST(c_all * 1000000 div {t_all} AS LONG)")
        ).alias("w_ppm"),
    )
    return (
        tok.join(weights, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("w_ppm").cast("long").alias("dsir_score"),
        )
        .orderBy(F.desc("dsir_score"), "doc_id")
        .limit(DSIR_TOP_K)
    )


WINNOW_K = 3  # word k-gram width
WINNOW_W = 4  # winnowing window (guarantee: one fingerprint per W k-grams)


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003,
    "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    algorithm): hash every word K-gram, slide a window of W consecutive
    k-gram hashes over each document, and select the window minimum
    (rightmost occurrence on ties). Guarantees: any shared substring of
    ≥ W+K−1 words yields at least one shared fingerprint, and selected
    density is ~2/(W+1) — the locality property that made it the
    standard plagiarism / near-copy detector. Output per doc: k-gram
    count, fingerprints selected (raw + distinct), and how many distinct
    fingerprints were already selected by an earlier doc — the
    cross-document copy signal.

    The "rightmost minimum of some window" rule is closed-form per
    position: p is selected iff for some offset o < W the full window
    [p−o, p−o+W−1] has min == h[p] AND every position after p in that
    window is strictly greater (rightmost tie-break). That is 2W window
    aggregates over ONE (doc_id, pos) ordering — a single shuffle, no
    stateful scan, identical frames in the DuckDB oracle. Docs with
    fewer than W k-grams fall back to "rightmost min of the whole doc"
    so short docs still fingerprint.

    Distributed shape: posexplode → window funcs on the doc_id
    partitioning → two partial aggs; the cross-doc phase is one
    groupBy(h) min + a re-join on h (both map-side combinable). Nothing
    is quadratic and nothing collects. The fingerprint index (selected
    distinct fps + per-doc stats) is the session-shared
    ``_winnow_index`` — the MOSS fingerprint database a plagiarism
    service builds once per corpus snapshot."""
    per_doc, fps = _winnow_index(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    firsts = fps.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    cov = fps.join(firsts, "h").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp_distinct"),
        F.sum((F.col("first_doc") < F.col("doc_id")).cast("long"))
        .cast("long")
        .alias("n_fp_seen_earlier"),
    )
    return (
        docs.select("doc_id", "source")
        .join(per_doc, "doc_id", "left")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_kgrams", F.lit(0)).cast("long").alias("n_kgrams"),
            F.coalesce("n_fp", F.lit(0)).cast("long").alias("n_fp"),
            F.coalesce("n_fp_distinct", F.lit(0))
            .cast("long")
            .alias("n_fp_distinct"),
            F.coalesce("n_fp_seen_earlier", F.lit(0))
            .cast("long")
            .alias("n_fp_seen_earlier"),
        )
        .orderBy("doc_id")
    )


def _winnow_index(spark: SparkSession, sf_dir: str):
    """Session-memoized winnowing fingerprint index: ``(per_doc, fps)``
    — per-doc k-gram/selection stats (doc-sized) and the selected
    distinct (doc_id, h) fingerprint set (~2/(W+1) of positions). The
    every q_winnowing call previously re-ran the explode +
    single-ordering window stage per rep (guide §2.4). The index is one
    (doc_id, h)-grained table; both returned facts are exchange-free
    projections of it (r13 — see the build comment)."""

    def build():
        docs = _docs(spark, sf_dir)
        from pyspark.sql import Window

        kg = F.expr(
            f"CASE WHEN size(t) >= {WINNOW_K} THEN "
            f"transform(sequence(1, size(t) - {WINNOW_K - 1}), "
            f"i -> concat_ws(' ', slice(t, i, {WINNOW_K}))) "
            f"ELSE array() END"
        )
        ex = (
            docs.select(
                "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
            )
            .select("doc_id", F.posexplode(kg).alias("pos", "g"))
            .select(
                "doc_id",
                "pos",
                F.conv(F.substring(F.md5("g"), 1, 8), 16, 10)
                .cast("long")
                .alias("h"),
            )
        )
        wb = Window.partitionBy("doc_id").orderBy("pos")
        # Selection rule, O(1)-per-row form (r12): position p is
        # selected for window offset o iff the window [p−o, p−o+W−1] is
        # complete, every element BEFORE p in it is ≥ h[p], and every
        # element AFTER p is STRICTLY > h[p] (rightmost-tie).
        # "min(frame)==h ∧ after>h" ⟺ "before≥h ∧ after>h" given
        # completeness, so the 2W sliding-MIN frames (each O(W) per
        # row) collapse to 2(W−1) lag/lead offset reads (each O(1) per
        # row) over the SAME single (doc_id, pos) ordering — one
        # shuffle, identical selected set (oracle-gated at 3 SFs; guide
        # §1.2 step 2: per-task work inside an already-right shape).
        # Completeness is lag/lead non-null: positions are dense per
        # doc, so lag(h,o) is null exactly when p−o < 0.
        lag = [None] + [F.lag("h", k).over(wb) for k in range(1, WINNOW_W)]
        lead = [None] + [F.lead("h", k).over(wb) for k in range(1, WINNOW_W)]

        def _minof(cols: list) -> F.Column:
            return cols[0] if len(cols) == 1 else F.least(*cols)

        sel = F.lit(False)
        for o in range(WINNOW_W):
            j = WINNOW_W - 1 - o
            cond = F.lit(True)
            if o >= 1:
                cond = lag[o].isNotNull() & (
                    _minof(lag[1 : o + 1]) >= F.col("h")
                )
            if j >= 1:
                cond = (
                    cond
                    & lead[j].isNotNull()
                    & (_minof(lead[1 : j + 1]) > F.col("h"))
                )
            sel = sel | cond
        whole = wb.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        tail = wb.rowsBetween(1, Window.unboundedFollowing)
        short = (
            (F.count("h").over(whole) < WINNOW_W)
            & (F.col("h") == F.min("h").over(whole))
            & (
                F.min("h").over(tail).isNull()
                | (F.min("h").over(tail) > F.col("h"))
            )
        )
        # ONE materialization at the (doc_id, h) grain instead of three
        # (r13; was: tokens-sized `marked` + per-doc stats + distinct
        # fps, each its own checkpoint): the per-(doc, h) rollup
        # piggybacks on the window stage's doc_id partitioning (doc_id
        # ⊆ (doc_id, h) ⇒ no new exchange), and BOTH probe-side facts
        # are cheap exchange-free projections of it — per_doc re-groups
        # by doc_id (same partitioning again), fps is a filter (the
        # (doc_id, h) grain IS distinct). Build cost drops from one
        # tokens-sized write + two derived passes to one FP-grained
        # write on the same single shuffle.
        marked = ex.withColumn("selected", sel | short)
        g = M.checkpoint(
            marked.groupBy("doc_id", "h").agg(
                F.count(F.lit(1)).alias("n_pos"),
                F.sum(F.col("selected").cast("long")).alias("n_sel"),
            )
        )
        per_doc = g.groupBy("doc_id").agg(
            F.sum("n_pos").cast("long").alias("n_kgrams"),
            F.sum("n_sel").cast("long").alias("n_fp"),
        )
        fps = g.filter(F.col("n_sel") > 0).select("doc_id", "h")
        return (per_doc, fps)

    return M.memo("pipe_winnow_index", spark, sf_dir, build)


SURPRISAL_BANDS = 3  # CCNet head / middle / tail
SURPRISAL_KEEP_BANDS = 2  # keep head + middle, prune the tail


def q_surprisal_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-band pruning (Wenzek et al. 2020,
    arXiv:1911.00359): CCNet buckets each language's documents into
    head/middle/tail by LM perplexity percentile and trains on
    head+middle. Same rule here on the integer surprisal proxy
    (plans/pipeline.q_lm_surprisal): per SOURCE, rank docs by per-bigram
    mean surprisal (millis) and split into 3 exact bands
    band = ((rank-1)*3) div n_source; bands 0-1 are kept, band 2 (the
    highest-perplexity tail — garbled/boilerplate text) is pruned.
    Output: per-source doc and token counts kept vs pruned — the
    audit row a filtering run logs per batch.

    Distributed shape: the surprisal signal is the lm_surprisal plan
    (explode → co-partitioned self-join on the bigram key); the banding
    rank comes from the grouped two-phase prefix scan
    (operators/prefix.grouped_rank) — range-partitioned on
    (source, surp_millis, doc_id), so even a source holding most of a
    100 TB corpus ranks across many tasks instead of serializing
    through one per-source window task. Final agg is one tiny
    per-source row set."""
    from kremis_spark.plans.pipeline import _doc_stats, q_lm_surprisal

    per = q_lm_surprisal(spark, sf_dir)
    # shared doc-length dim (one tokenize pass per session, not per call)
    docs = _doc_stats(spark, sf_dir).select("doc_id", "source", "n_tokens")
    d = docs.join(per, "doc_id").select(
        "doc_id",
        "source",
        "n_tokens",
        F.when(
            F.col("n_bigrams") > 0,
            F.expr("lm_surprisal * 1000L div n_bigrams"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("surp_millis"),
    )
    from kremis_spark.operators.prefix import grouped_rank

    ranked = grouped_rank(
        d,
        ["source"],
        ["surp_millis", "doc_id"],
        out_col="_rn",
        group_count_col="_n",
    )
    banded = ranked.select(
        "source",
        "n_tokens",
        F.expr(f"(_rn - 1) * {SURPRISAL_BANDS} div _n")
        .cast("long")
        .alias("band"),
    )
    keep = F.col("band") < SURPRISAL_KEEP_BANDS
    return (
        banded.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(keep.cast("long")).cast("long").alias("n_kept"),
            F.sum((~keep).cast("long")).cast("long").alias("n_pruned"),
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(F.lit(0)))
            .cast("long")
            .alias("kept_tokens"),
            F.sum(F.when(~keep, F.col("n_tokens")).otherwise(F.lit(0)))
            .cast("long")
            .alias("pruned_tokens"),
        )
        .orderBy("source")
    )


ORACLE_SQL: dict[str, str] = {
    "pipe_dup_ngram_coverage": rf"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         md5(list_aggregate(w[i:i + {NGRAM_N - 1}], 'string_agg', ' ')) AS g
  FROM t, UNNEST(range(1, len(w) - {NGRAM_N - 2})) AS u(i)
  WHERE len(w) >= {NGRAM_N}
),
f AS (SELECT g, MIN(doc_id) AS first_doc FROM g GROUP BY g),
per AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END) AS n_dup
  FROM g JOIN f USING (g) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup,
       CAST(COALESCE(n_dup, 0) * 1000
            // GREATEST(COALESCE(n_grams, 0), 1) AS BIGINT) AS dup_permille
FROM documents d LEFT JOIN per USING (doc_id)
ORDER BY doc_id
""",
    "pipe_hash_classifier": rf"""
WITH tok AS (
  SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents
),
sc AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         SUM(('0x' || substr(md5(tok), 1, 8))::BIGINT % {CLS_BUCKETS}
             - 1000) AS score_sum
  FROM tok GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(score_sum AS BIGINT) AS score_sum,
       CAST(CASE WHEN score_sum >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM sc ORDER BY doc_id
""",
    "pipe_importance_weights": rf"""
WITH tok AS (
  SELECT doc_id, source,
         UNNEST(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents
),
counts AS (
  SELECT tok, COUNT(*) AS c_all,
         SUM(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN 1 ELSE 0 END)
           AS c_tgt
  FROM tok GROUP BY tok
),
tot AS (SELECT GREATEST(SUM(c_all), 1) AS t_all,
               GREATEST(SUM(c_tgt), 1) AS t_tgt FROM counts),
w AS (
  SELECT tok,
         CAST(c_tgt * 1000000 // t_tgt AS BIGINT)
           - CAST(c_all * 1000000 // t_all AS BIGINT) AS w_ppm
  FROM counts, tot
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(w_ppm) AS BIGINT) AS dsir_score
FROM tok JOIN w USING (tok)
GROUP BY doc_id
ORDER BY dsir_score DESC, doc_id
LIMIT {DSIR_TOP_K}
""",
}


# Winnowing oracle: identical k-gram hash, identical window frames (the
# WINDOW clause names mirror the Spark rowsBetween offsets o=0..W-1).
ORACLE_SQL["pipe_winnowing"] = f"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
kg AS (
  SELECT doc_id, i - 1 AS pos,
         toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS g
  FROM base,
       UNNEST(generate_series(1, GREATEST(len(toks) - {WINNOW_K - 1}, 0)))
         AS t(i)
),
hx AS (
  SELECT doc_id, pos, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h FROM kg
),
mk AS (
  SELECT doc_id, pos, h,
    (   (COUNT(h) OVER w0 = {WINNOW_W} AND MIN(h) OVER w0 = h
         AND COALESCE(MIN(h) OVER a0 > h, FALSE))
     OR (COUNT(h) OVER w1 = {WINNOW_W} AND MIN(h) OVER w1 = h
         AND COALESCE(MIN(h) OVER a1 > h, FALSE))
     OR (COUNT(h) OVER w2 = {WINNOW_W} AND MIN(h) OVER w2 = h
         AND COALESCE(MIN(h) OVER a2 > h, FALSE))
     OR (COUNT(h) OVER w3 = {WINNOW_W} AND MIN(h) OVER w3 = h)
     OR (COUNT(h) OVER wa < {WINNOW_W} AND h = MIN(h) OVER wa
         AND COALESCE(MIN(h) OVER ta > h, TRUE))
    ) AS selected
  FROM hx
  WINDOW
    w0 AS (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING),
    a0 AS (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING),
    w1 AS (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN 1 PRECEDING AND 2 FOLLOWING),
    a1 AS (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING),
    w2 AS (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING),
    a2 AS (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN 1 FOLLOWING AND 1 FOLLOWING),
    w3 AS (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
    wa AS (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
    ta AS (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
pd AS (
  SELECT doc_id, COUNT(*) AS n_kgrams,
         SUM(CASE WHEN selected THEN 1 ELSE 0 END) AS n_fp
  FROM mk GROUP BY doc_id
),
fp AS (SELECT DISTINCT doc_id, h FROM mk WHERE selected),
fst AS (SELECT h, MIN(doc_id) AS first_doc FROM fp GROUP BY h),
cv AS (
  SELECT doc_id, COUNT(*) AS n_fp_distinct,
         SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END)
           AS n_fp_seen_earlier
  FROM fp JOIN fst USING (h) GROUP BY doc_id
)
SELECT d.doc_id, d.source,
       CAST(COALESCE(pd.n_kgrams, 0) AS BIGINT) AS n_kgrams,
       CAST(COALESCE(pd.n_fp, 0) AS BIGINT) AS n_fp,
       CAST(COALESCE(cv.n_fp_distinct, 0) AS BIGINT) AS n_fp_distinct,
       CAST(COALESCE(cv.n_fp_seen_earlier, 0) AS BIGINT)
         AS n_fp_seen_earlier
FROM documents d
LEFT JOIN pd USING (doc_id)
LEFT JOIN cv USING (doc_id)
ORDER BY doc_id
"""


def _surprisal_prune_sql() -> str:
    # Late import (not a cycle — pipeline never imports filtering):
    # reuse the lm_surprisal bigram-shingle chain so both queries'
    # oracles share one definition of the signal.
    from kremis_spark.plans.pipeline import _DOC_SH

    return rf"""
WITH {_DOC_SH.strip()},
occ AS (SELECT doc_id, UNNEST(shingles) AS g FROM doc_sh),
counts AS (SELECT g, COUNT(*) AS c FROM occ GROUP BY g),
tot AS (SELECT SUM(c) AS n FROM counts),
per AS (
  SELECT o.doc_id, COUNT(*) AS n_bigrams, SUM(t.n // c.c) AS s
  FROM occ o JOIN counts c USING (g) CROSS JOIN tot t
  GROUP BY o.doc_id
),
d AS (
  SELECT doc.doc_id, doc.source,
         len(regexp_split_to_array(trim(doc.text), '\s+')) AS n_tokens,
         CASE WHEN COALESCE(p.n_bigrams, 0) > 0
              THEN COALESCE(p.s, 0) * 1000 // p.n_bigrams
              ELSE 0 END AS surp_millis
  FROM documents doc LEFT JOIN per p USING (doc_id)
),
banded AS (
  SELECT source, n_tokens,
         ((ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY surp_millis, doc_id) - 1)
            * {SURPRISAL_BANDS})
           // COUNT(*) OVER (PARTITION BY source) AS band
  FROM d
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN band < {SURPRISAL_KEEP_BANDS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN band >= {SURPRISAL_KEEP_BANDS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pruned,
       CAST(SUM(CASE WHEN band < {SURPRISAL_KEEP_BANDS} THEN n_tokens
                     ELSE 0 END) AS BIGINT) AS kept_tokens,
       CAST(SUM(CASE WHEN band >= {SURPRISAL_KEEP_BANDS} THEN n_tokens
                     ELSE 0 END) AS BIGINT) AS pruned_tokens
FROM banded GROUP BY source ORDER BY source
"""


ORACLE_SQL["pipe_surprisal_prune"] = _surprisal_prune_sql()


def _perceptron_sql() -> str:
    """Unrolled PERC_EPOCHS-epoch batch perceptron: each epoch is a
    scalar CTE whose misclassification predicate references the previous
    epoch's weights as scalar subqueries — the same fold-the-readback
    pattern as the kmeans_train oracle, in pure SQL. Each epoch reads the
    previous one ~24 times, so MATERIALIZED (on the epochs and on the
    feature CTE ``l``) stops the exponential CTE inlining of the chain."""
    from kremis_spark.plans.scrub import (
        GOPHER_MAX_WORDS,
        GOPHER_MIN_DISTINCT_PERMILLE,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORDS,
        GOPHER_MWL_HI,
        GOPHER_MWL_LO,
        _GOPHER_STOPS_SQL,
    )

    stops_in = _GOPHER_STOPS_SQL
    parts = [rf"""
WITH t AS (
  SELECT regexp_split_to_array(trim(text), '\s+') AS w FROM documents
),
f AS (
  SELECT CAST(len(w) AS BIGINT) AS x1,
         CAST((SELECT SUM(length(x)) FROM UNNEST(w) AS u(x)) AS BIGINT)
           AS x2,
         CAST((SELECT COUNT(DISTINCT x) FROM UNNEST(w) AS u(x)) AS BIGINT)
           AS x3,
         CAST((SELECT COUNT(*) FROM UNNEST(w) AS u(x)
               WHERE x IN {stops_in}) AS BIGINT) AS stops
  FROM t
),
l AS MATERIALIZED (
  SELECT x1, x2, x3,
         CASE WHEN x1 >= {GOPHER_MIN_WORDS} AND x1 <= {GOPHER_MAX_WORDS}
               AND x2 * 1000 >= x1 * {GOPHER_MWL_LO}
               AND x2 * 1000 <= x1 * {GOPHER_MWL_HI}
               AND stops >= {GOPHER_MIN_STOP_HITS}
               AND x3 * 1000 >= x1 * {GOPHER_MIN_DISTINCT_PERMILLE}
              THEN 1 ELSE -1 END AS y
  FROM f
)"""]
    prev = None  # CTE name carrying (wb, w1, w2, w3)
    for e in range(1, PERC_EPOCHS + 1):
        if prev is None:
            margin = "0"
        else:
            margin = (
                f"(SELECT wb FROM {prev}) + (SELECT w1 FROM {prev}) * x1 "
                f"+ (SELECT w2 FROM {prev}) * x2 "
                f"+ (SELECT w3 FROM {prev}) * x3"
            )
        base = f"(SELECT {{c}} FROM {prev})" if prev else "0"
        parts.append(f""",
e{e} AS MATERIALIZED (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN y * ({margin}) <= 0 THEN 1 ELSE 0 END) AS n_mis,
         {base.format(c='wb')}
           + SUM(CASE WHEN y * ({margin}) <= 0 THEN y ELSE 0 END) AS wb,
         {base.format(c='w1')}
           + SUM(CASE WHEN y * ({margin}) <= 0 THEN y * x1 ELSE 0 END) AS w1,
         {base.format(c='w2')}
           + SUM(CASE WHEN y * ({margin}) <= 0 THEN y * x2 ELSE 0 END) AS w2,
         {base.format(c='w3')}
           + SUM(CASE WHEN y * ({margin}) <= 0 THEN y * x3 ELSE 0 END) AS w3
  FROM l
)""")
        prev = f"e{e}"
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({e} AS BIGINT) AS epoch, CAST(n AS BIGINT) AS n_checked,"
        f" CAST(n_mis AS BIGINT) AS n_misclassified,"
        f" CAST(wb AS BIGINT) AS w_bias, CAST(w1 AS BIGINT) AS w_tokens,"
        f" CAST(w2 AS BIGINT) AS w_chars, CAST(w3 AS BIGINT) AS w_distinct"
        f" FROM e{e}"
        for e in range(1, PERC_EPOCHS + 1)
    )
    return "".join(parts) + f"\nSELECT * FROM ({selects}) ORDER BY epoch"


ORACLE_SQL["pipe_perceptron_step"] = _perceptron_sql()

NOVELTY_BUCKETS = 10


def q_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diminishing-returns curve: docs bucketed into
    NOVELTY_BUCKETS deciles of ingestion order (doc_id), each bucket
    reporting what fraction (permille) of its distinct 8-grams are
    NOVEL — first seen in that document rather than any earlier one.
    This is the scaling-laws question asked of a crawl ("how much new
    text does the next shard actually add?") answered exactly at the
    substring grain; a flattening curve is the signal to stop crawling
    a source or tighten dedup.

    Distributed shape: the same distinct (doc, gram-md5) fact and
    first-seen agg as pipe_dup_ngram_coverage (co-partitioned join on
    the gram key), then a 10-group rollup keyed by a map-side bucket
    expression. The max-id scalar is one output-sized readback."""
    docs = _docs(spark, sf_dir)
    # dataset property: one readback per (session, dataset), not per call
    max_id = M.memo(
        "pipe_docs_max_id",
        spark,
        sf_dir,
        lambda: docs.agg(F.max("doc_id")).first()[0],
    )
    if max_id is None:
        return spark.createDataFrame(
            [],
            "bucket BIGINT, n_docs BIGINT, n_grams BIGINT, n_novel BIGINT,"
            " novelty_permille BIGINT",
        )
    grams = _gram_fact(spark, sf_dir)
    firsts = _gram_firsts(spark, sf_dir)
    bucket = F.least(
        F.expr(f"doc_id * {NOVELTY_BUCKETS} div {int(max_id) + 1}"),
        F.lit(NOVELTY_BUCKETS - 1),
    ).cast("long")
    return (
        grams.join(firsts, "g")
        .select(
            bucket.alias("bucket"),
            "doc_id",
            (F.col("first_doc") == F.col("doc_id")).cast("long").alias("nov"),
        )
        .groupBy("bucket")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("nov").cast("long").alias("n_novel"),
        )
        .withColumn(
            "novelty_permille",
            F.expr("n_novel * 1000 div greatest(n_grams, 1)").cast("long"),
        )
        .orderBy("bucket")
    )


ORACLE_SQL["pipe_ngram_novelty_curve"] = rf"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         md5(list_aggregate(w[i:i + {NGRAM_N - 1}], 'string_agg', ' ')) AS g
  FROM t, UNNEST(range(1, len(w) - {NGRAM_N - 2})) AS u(i)
  WHERE len(w) >= {NGRAM_N}
),
f AS (SELECT g, MIN(doc_id) AS first_doc FROM g GROUP BY g),
mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
b AS (
  SELECT LEAST(g.doc_id * {NOVELTY_BUCKETS} // (SELECT m FROM mx),
               {NOVELTY_BUCKETS - 1}) AS bucket,
         g.doc_id,
         CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END AS nov
  FROM g JOIN f USING (g)
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(nov) AS BIGINT) AS n_novel,
       CAST(SUM(nov) * 1000 // GREATEST(COUNT(*), 1) AS BIGINT)
         AS novelty_permille
FROM b GROUP BY bucket ORDER BY bucket
"""


def _perceptron_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(x0=1, x1=n_tokens, x2=sum_chars, x3=n_distinct, y) per doc.
    The label is the Gopher-funnel verdict (plans/scrub.py rules) as
    ±1 — so the trainer learns to approximate the rule cascade from
    three cheap counts. The label peeks at stopword hits, which is NOT
    a feature: the task is deliberately not separable, like a real
    quality-classifier distillation."""
    from kremis_spark.functions.text import STOPWORDS
    from kremis_spark.plans.pipeline import _docs_parallel
    from kremis_spark.plans.scrub import (
        GOPHER_MAX_WORDS,
        GOPHER_MIN_DISTINCT_PERMILLE,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORDS,
        GOPHER_MWL_HI,
        GOPHER_MWL_LO,
    )

    t = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size("t").cast("long")
    chars = F.aggregate(
        F.col("t"), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    stops = F.size(F.filter(F.col("t"), lambda x: x.isin(*STOPWORDS))).cast(
        "long"
    )
    ndis = F.size(F.array_distinct("t")).cast("long")
    passed = (
        (n >= GOPHER_MIN_WORDS)
        & (n <= GOPHER_MAX_WORDS)
        & (chars * 1000 >= n * GOPHER_MWL_LO)
        & (chars * 1000 <= n * GOPHER_MWL_HI)
        & (stops >= GOPHER_MIN_STOP_HITS)
        & (ndis * 1000 >= n * GOPHER_MIN_DISTINCT_PERMILLE)
    )
    return (
        _docs_parallel(spark, sf_dir)
        .select(t.alias("t"))
        .select(
            n.alias("x1"),
            chars.alias("x2"),
            ndis.alias("x3"),
            F.when(passed, F.lit(1)).otherwise(F.lit(-1)).cast("long")
            .alias("y"),
        )
    )


def q_perceptron_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed full-batch perceptron training of a quality
    classifier — the supervised sibling of pipe_kmeans_train (same
    driver-folds-output-sized-scalars shape). PERC_EPOCHS epochs from
    w=0; per epoch, every misclassified doc (margin y·(w·x) ≤ 0)
    contributes y·x to the weight update, all in exact int64 so the
    unrolled DuckDB oracle reproduces every weight bit-for-bit. Output:
    one row per epoch with the misclassified count and the post-update
    weights — the convergence trace a filter-training run monitors.

    Scale shape per epoch: ONE scan of the feature projection (the
    margin test is a map-side predicate against weight LITERALS — the
    4-int driver readback is output-sized, never data-sized) and one
    scalar partial agg of 4 sums; no shuffle wider than the agg, no
    driver data movement. Overflow headroom: |w| ≤ epochs·Σ|x| and the
    margin |w·x| ≤ |w|·max|x| stay under int64 even at 1e10 docs of
    ~1e4 chars (≈1e17 < 9.2e18)."""
    feats = _perceptron_features(spark, sf_dir)
    w = [0, 0, 0, 0]  # bias, tokens, chars, distinct
    out_rows = []
    for epoch in range(1, PERC_EPOCHS + 1):
        margin = (
            F.lit(w[0])
            + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2")
            + F.lit(w[3]) * F.col("x3")
        ) * F.col("y")
        mis = F.when(margin <= 0, F.lit(1)).otherwise(F.lit(0))
        row = feats.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(mis).cast("long").alias("n_mis"),
            F.sum(mis * F.col("y")).cast("long").alias("g0"),
            F.sum(mis * F.col("y") * F.col("x1")).cast("long").alias("g1"),
            F.sum(mis * F.col("y") * F.col("x2")).cast("long").alias("g2"),
            F.sum(mis * F.col("y") * F.col("x3")).cast("long").alias("g3"),
        ).collect()[0]
        w = [
            w[0] + int(row["g0"] or 0),
            w[1] + int(row["g1"] or 0),
            w[2] + int(row["g2"] or 0),
            w[3] + int(row["g3"] or 0),
        ]
        out_rows.append(
            (epoch, int(row["n"]), int(row["n_mis"]), w[0], w[1], w[2], w[3])
        )
    return spark.createDataFrame(
        out_rows,
        "epoch BIGINT, n_checked BIGINT, n_misclassified BIGINT, "
        "w_bias BIGINT, w_tokens BIGINT, w_chars BIGINT, w_distinct BIGINT",
    )


QUERIES = {
    "pipe_dup_ngram_coverage": q_dup_ngram_coverage,
    "pipe_ngram_novelty_curve": q_ngram_novelty_curve,
    "pipe_hash_classifier": q_hash_classifier,
    "pipe_importance_weights": q_importance_weights,
    "pipe_winnowing": q_winnowing,
    "pipe_surprisal_prune": q_surprisal_prune,
    "pipe_perceptron_step": q_perceptron_step,
}
