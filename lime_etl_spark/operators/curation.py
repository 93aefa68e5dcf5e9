"""Training-data curation operators (documents table).

The steps between "raw crawl" and "training shards" that aren't
dedup or sampling: benchmark decontamination, repetition filtering,
PII/URL scrubbing, and the composite quality gate that routes each
document to keep-or-drop with a reason.

100 TB design notes:

- Decontamination joins the TRAIN corpus (the 100 TB side) against
  the distinct n-grams of the TEST/benchmark split, which is small by
  construction (benchmarks are curated sets, not crawls) — so the
  test-gram side broadcasts and the train side never shuffles: scan →
  explode → broadcast-hash probe → partial count per doc.
- Repetition ratio and the quality gate are pure per-row projections
  (explode-free: array cardinalities via size/array_distinct inside
  codegen) — embarrassingly parallel, no shuffle at all.
- Scrubbing is a regexp_replace chain evaluated JVM-side; counting
  redactions reuses the same regex via regexp_count, not Python.
- Ratios that feed cross-engine comparisons divide exact BIGINTs in
  IEEE double — deterministic on both engines; no decimal rounding
  ambiguity.

Reference parity: lime-etl jobs transform user tables through the
unit-of-work (lime_etl/domain/job_spec.py:49); these are curation
jobs a training-data team would register as SparkJobSpecs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lime_etl_spark.functions.text import tokens, word_shingles
from lime_etl_spark.operators.training import hash_bucket, _bucket_sql
from lime_etl_spark.plans.registry import register, track_persist
from lime_etl_spark.sources.readers import load_table

DECON_N = 13  # industry-standard benchmark-overlap n-gram size
REP_N = 3
REP_TAU = 0.98
MIN_WORDS, MAX_WORDS = 20, 80

# Scrub patterns (applied in order). Spark (Java) and the pytest
# fixtures agree on these; the registered query only aggregates
# counts so the corpus needs no actual PII.
SCRUB_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s]+", "<URL>"),
    ("longnum", r"\d{9,}", "<NUM>"),
)


def scrub_text(col: Column) -> Column:
    """Redact emails, URLs and long digit runs (ID/phone-shaped)."""
    out = col
    for _, pat, repl in SCRUB_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def _gram_sql(n: int) -> str:
    """DuckDB n-word shingle list over t (1-based, same as word_shingles)."""
    concat = " || ' ' || ".join(f"t[i + {k}]" for k in range(n))
    return (
        f"list_transform(generate_series(1, len(t) - {n - 1}), i -> {concat})"
    )


@register(
    "cur_decontaminate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_bucket_sql("doc_id", 100)} AS b,
               string_split(text, ' ') AS t
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, b, gram
        FROM (SELECT doc_id, b, unnest({_gram_sql(DECON_N)}) AS gram FROM toks)
    ),
    test_grams AS (SELECT DISTINCT gram FROM grams WHERE b >= 90)
    SELECT doc_id, COUNT(*) AS n_shared_grams
    FROM grams JOIN test_grams USING (gram)
    WHERE b < 80
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    description="benchmark decontamination: train docs sharing a 13-gram with the test split",
)
def cur_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-split documents contaminated by the test split: sharing at
    least one 13-gram. Splits reuse samp_hash_split's deterministic
    md5 bucketing. The test side collapses to DISTINCT grams and is
    broadcast — at 100 TB the benchmark set is tiny relative to the
    crawl, so the train side's exploded grams probe a hash table
    instead of shuffling."""
    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"), 100)
    grams = docs.select(
        "doc_id", b.alias("b"), F.explode(word_shingles(tokens(), DECON_N)).alias("gram")
    ).distinct()
    test_grams = grams.where(F.col("b") >= 90).select("gram").distinct()
    return (
        grams.where(F.col("b") < 80)
        .join(F.broadcast(test_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .orderBy("doc_id")
    )


@register(
    "cur_repetition_ratio",
    oracle=f"""
    SELECT doc_id, ng AS n_grams, nd AS n_distinct_grams,
           CAST(nd AS DOUBLE) / ng AS uniq_ratio,
           CASE WHEN CAST(nd AS DOUBLE) / ng < {REP_TAU} THEN 1 ELSE 0 END AS is_repetitive
    FROM (
        SELECT doc_id,
               len({_gram_sql(REP_N)}) AS ng,
               len(list_distinct({_gram_sql(REP_N)})) AS nd
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    )
    ORDER BY doc_id
    """,
    description="intra-doc repeated 3-gram ratio (Gopher-style repetition filter)",
)
def cur_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of distinct 3-grams per document; heavily templated or
    looping docs score low. Pure projection — the gram array never
    explodes, only its cardinalities leave the row, so the operator
    is shuffle-free and codegen'd end to end."""
    docs = load_table(spark, sf_dir, "documents")
    grams = word_shingles(tokens(), REP_N)
    # n_grams needs no shingle array at all — it is determined by the
    # token count (max(len-n+1, 0)); building the gram strings twice
    # (once for size, once for distinct) doubled the dominant per-row
    # cost, and higher-order-function expressions don't get common-
    # subexpression elimination.
    n_toks = F.size(tokens())
    n_grams = F.when(n_toks >= REP_N, n_toks - (REP_N - 1)).otherwise(F.lit(0))
    out = docs.select(
        "doc_id",
        n_grams.alias("n_grams"),
        F.size(F.array_distinct(grams)).alias("n_distinct_grams"),
    ).select(
        "doc_id",
        "n_grams",
        "n_distinct_grams",
        (F.col("n_distinct_grams").cast("double") / F.col("n_grams")).alias("uniq_ratio"),
    )
    return out.withColumn(
        "is_repetitive", F.when(F.col("uniq_ratio") < REP_TAU, 1).otherwise(0)
    ).orderBy("doc_id")


@register(
    "cur_scrub_stats",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '{SCRUB_RULES[0][1]}'))) AS BIGINT) AS n_emails,
           CAST(SUM(len(regexp_extract_all(text, '{SCRUB_RULES[1][1]}'))) AS BIGINT) AS n_urls,
           CAST(SUM(len(regexp_extract_all(text, '{SCRUB_RULES[2][1]}'))) AS BIGINT) AS n_longnums,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars_in
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    description="PII/URL scrub audit: redaction counts per source",
)
def cur_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source audit of what scrub_text WOULD redact (the scrubbed
    text itself is a transform; the audit is the aggregate a curation
    batch logs). regexp_count shares the scan with the length sum —
    one pass, partial aggregation per source."""
    docs = load_table(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for name, pat, _ in SCRUB_RULES:
        aggs.append(F.sum(F.regexp_count("text", F.lit(pat))).alias(f"n_{name}s"))
    aggs.append(F.sum(F.length("text")).alias("n_chars_in"))
    return docs.groupBy("source").agg(*aggs).orderBy("source")


@register(
    "cur_quality_gate",
    oracle=f"""
    SELECT verdict, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
    FROM (
        SELECT doc_id,
               CASE WHEN nw < {MIN_WORDS} THEN 'too_short'
                    WHEN nw > {MAX_WORDS} THEN 'too_long'
                    WHEN CAST(nd AS DOUBLE) / ng < {REP_TAU} THEN 'repetitive'
                    ELSE 'keep' END AS verdict
        FROM (
            SELECT doc_id, len(t) AS nw,
                   len({_gram_sql(REP_N)}) AS ng,
                   len(list_distinct({_gram_sql(REP_N)})) AS nd
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        )
    )
    GROUP BY verdict
    ORDER BY verdict
    """,
    description="composite keep/drop gate with first-failing reason",
)
def cur_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routing verdict per document — first failing check wins, same
    short-circuit order both engines. The verdict is computed row-local
    (no shuffle); only the tiny per-verdict rollup aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    grams = word_shingles(toks, REP_N)
    nw = F.size(toks)
    ratio = F.size(F.array_distinct(grams)).cast("double") / F.size(grams)
    verdict = (
        F.when(nw < MIN_WORDS, "too_short")
        .when(nw > MAX_WORDS, "too_long")
        .when(ratio < REP_TAU, "repetitive")
        .otherwise("keep")
    )
    return (
        docs.select("doc_id", verdict.alias("verdict"))
        .groupBy("verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .orderBy("verdict")
    )


from lime_etl_spark.operators.dedup import (  # noqa: E402
    JACCARD_TAU,
    _minhash_sql,
    doc_shingles,
    jaccard_pairs,
    lsh_candidates,
    minhash_signatures,
)


def _split_expr() -> Column:
    """The samp_hash_split assignment, shared so the leakage audit
    audits the SAME split the sampler ships."""
    b = hash_bucket(F.col("doc_id"), 100)
    return F.when(b < 80, "train").when(b < 90, "val").otherwise("test")


_SPLIT_SQL = f"""
    CASE WHEN {_bucket_sql("doc_id", 100)} < 80 THEN 'train'
         WHEN {_bucket_sql("doc_id", 100)} < 90 THEN 'val'
         ELSE 'test' END
"""


@register(
    "cur_split_leakage",
    oracle=f"""
    WITH pairs AS (
        SELECT doc_a, doc_b FROM ({_minhash_sql()})
    ),
    spl AS (SELECT doc_id, {_SPLIT_SQL} AS split FROM documents)
    SELECT LEAST(sa.split, sb.split) AS split_lo,
           GREATEST(sa.split, sb.split) AS split_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           LEAST(sa.split, sb.split) <> GREATEST(sa.split, sb.split) AS is_leaky
    FROM pairs p
    JOIN spl sa ON p.doc_a = sa.doc_id
    JOIN spl sb ON p.doc_b = sb.doc_id
    GROUP BY split_lo, split_hi
    ORDER BY split_lo, split_hi
    """,
    description="near-dup pairs crossing train/val/test boundaries (split-leakage audit)",
)
def cur_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-integrity audit 13-gram decontamination cannot do:
    NEAR-duplicate leakage across the hash-split boundary. A val/test
    doc whose near-twin sits in train inflates every metric; this
    query counts verified Jaccard>=tau pairs per (split, split) cell,
    flagging the off-diagonal ones. Run it before trusting any eval
    on a deduplicated-but-not-cluster-aware split (the fix is
    cluster-aware splitting: assign whole dedup_components clusters
    to one split).

    Scale: the pair table is the LSH-verified output (candidate-
    scoped, tiny vs the corpus); each side joins the split projection
    on its doc id — two hash probes of a two-column frame — and the
    rollup is a 6-cell counter. The split expression is shared with
    samp_hash_split so the audit can never drift from the sampler."""
    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(docs).persist()
    pairs = jaccard_pairs(sh, candidates=lsh_candidates(minhash_signatures(sh))).where(
        F.col("jaccard") >= JACCARD_TAU
    )
    spl = docs.select("doc_id", _split_expr().alias("split"))
    sa = spl.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = spl.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    out = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            (F.col("split_lo") != F.col("split_hi")).alias("is_leaky"),
        )
        .orderBy("split_lo", "split_hi")
    )
    return out


from lime_etl_spark.operators.graph import connected_components  # noqa: E402


def cluster_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, split) with the WHOLE near-dup cluster hashed into one
    split — the fix for what cur_split_leakage measures. Splitting on
    the component id instead of the doc id makes cross-split near-dup
    pairs structurally impossible (both endpoints share a component,
    hence a split)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(docs).persist()
    pairs = jaccard_pairs(sh, candidates=lsh_candidates(minhash_signatures(sh))).where(
        F.col("jaccard") >= JACCARD_TAU
    )
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    cc = connected_components(docs.select(F.col("doc_id").alias("vid")), edges)
    sh.unpersist()
    b = hash_bucket(F.col("label"), 100)
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    return cc.select(F.col("vid").alias("doc_id"), split.alias("split"))


@register(
    "samp_cluster_split",
    oracle=f"""
    WITH RECURSIVE
    pairs AS (
        SELECT doc_a, doc_b FROM ({_minhash_sql()})
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(vid, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.vid
    ),
    comp AS (
        SELECT vid AS doc_id, CAST(MIN(lab) AS BIGINT) AS component_id
        FROM reach GROUP BY vid
    ),
    assigned AS (
        SELECT doc_id,
               CASE WHEN {_bucket_sql("component_id", 100)} < 80 THEN 'train'
                    WHEN {_bucket_sql("component_id", 100)} < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM comp
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM assigned
    GROUP BY split
    ORDER BY split
    """,
    description="cluster-aware train/val/test split (whole near-dup cluster per split; zero structural leakage)",
)
def samp_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-size summary of the cluster-aware assignment (the full
    per-doc frame is :func:`cluster_split_assignment`; the pytest
    proves zero cross-split near-dup pairs under it, the exact failure
    cur_split_leakage counts under the naive doc-hash split).

    Scale: the only addition over the CC pipeline is one hash over
    the component id — the split decision needs no extra shuffle
    because the label rides the CC output; the summary is a 3-key
    counter rollup. Singleton docs (no near-dup, the vast majority)
    hash on their own id, so the 80/10/10 proportions hold."""
    assigned = cluster_split_assignment(spark, sf_dir)
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
        )
        .orderBy("split")
    )


@register(
    "cur_rarity_score",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    freq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY term),
    ranked AS (
        SELECT term,
               CAST(DENSE_RANK() OVER (ORDER BY n DESC, term) AS BIGINT) AS rnk
        FROM freq
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(rnk) AS BIGINT) AS rank_sum,
           CAST(SUM(rnk) AS DOUBLE) / COUNT(*) AS mean_rank
    FROM tok JOIN ranked USING (term)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    description="token-rarity score: mean corpus-frequency rank per doc (log-free perplexity proxy)",
)
def cur_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A unigram 'how surprising is this document' score with NO
    transcendentals: each token's corpus-frequency DENSE_RANK stands
    in for -log p(token) (both are monotone in rarity), and the
    per-doc mean rank is integer sum / integer count — one IEEE
    division, bit-stable where a log-prob sum is not. High mean rank
    flags gibberish/rare-token soup; very low flags boilerplate — the
    two tails a quality gate trims.

    Scale: the vocabulary table is corpus-BOUNDED (vocab ≪ tokens),
    so its global dense_rank is a one-task sort of a small table —
    the same deliberate trade as exact percentiles, with
    approx ranking (bucketed freq bands) as the documented mega-vocab
    path. The token→rank join hashes on term with the rank side tiny;
    the per-doc rollup combines map-side."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    tok = docs.select("doc_id", F.explode(tokens()).alias("term")).persist()
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = freq.select(
        "term",
        F.dense_rank()
        .over(Window.orderBy(F.desc("n"), F.asc("term")))
        .cast("bigint")
        .alias("rnk"),
    )
    out = (
        tok.join(ranked, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("rnk").cast("bigint").alias("rank_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "rank_sum",
            (F.col("rank_sum").cast("double") / F.col("n_tokens")).alias("mean_rank"),
        )
        .orderBy("doc_id")
    )
    return out


BOILER_N = 8
BOILER_MIN_DOCS = 5


@register(
    "cur_boilerplate_lines",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
        SELECT DISTINCT doc_id, unnest({_gram_sql(BOILER_N)}) AS gram
        FROM toks
    )
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM grams
    GROUP BY gram
    HAVING COUNT(*) >= {BOILER_MIN_DOCS}
    ORDER BY n_docs DESC, gram
    """,
    description="boilerplate phrase mining: long n-grams shared across many documents",
)
def cur_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detector: 8-word grams appearing in
    ≥{BOILER_MIN_DOCS} DISTINCT documents. Short-gram stats
    (txt_ngram_stats) surface common language; LONG grams shared
    across documents are almost never natural prose — they are
    footers, license headers, cookie banners and template scaffolding,
    the strings a curation pass strips before near-dup clustering
    (after stripping, fewer false near-dup edges between unrelated
    pages sharing a footer).

    Scale: distinct-per-doc before the count (a doc repeating its own
    footer votes once); the gram explode is the same JVM array fan-out
    every shingle operator uses, and the rollup output is capped by
    the HAVING floor — rare grams (the overwhelming majority) die in
    the partial aggregate's map-side combine.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(word_shingles(tokens(), BOILER_N)).alias("gram")
    ).distinct()
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .where(F.col("n_docs") >= BOILER_MIN_DOCS)
        .orderBy(F.desc("n_docs"), "gram")
    )


# --- unigram cross-entropy (perplexity-proxy) quality filter ----------------


@register(
    "cur_perplexity_proxy",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, t.tok
        FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
    ),
    lm AS (SELECT tok, COUNT(*) AS ct FROM tok GROUP BY tok),
    tot AS (SELECT COUNT(*) AS t FROM tok),
    bits AS (
        SELECT tok,
               CAST(FLOOR(log2(CAST(tot.t AS DOUBLE) / ct) * 1000000) AS BIGINT)
                   AS bpt_e6
        FROM lm CROSS JOIN tot
    ),
    per_doc AS (
        SELECT doc_id, ANY_VALUE(lang) AS lang,
               SUM(bpt_e6) // COUNT(*) AS score_e6
        FROM tok JOIN bits USING (tok)
        GROUP BY doc_id
    ),
    thresh AS (SELECT SUM(score_e6) // COUNT(*) AS mean_e6 FROM per_doc)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(score_e6) AS DOUBLE) / (COUNT(*) * 1000000.0)
               AS mean_bits_per_token,
           CAST(SUM(CASE WHEN score_e6 > thresh.mean_e6 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above_corpus_mean,
           CAST(SUM(CASE WHEN score_e6 > thresh.mean_e6 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS share_above_corpus_mean
    FROM per_doc CROSS JOIN thresh
    GROUP BY lang, thresh.mean_e6 ORDER BY lang
    """,
    description="unigram cross-entropy quality proxy: per-lang mean bits/token under the corpus LM + above-mean (suspect) share",
)
def cur_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical perplexity quality filter (CCNet's KenLM gate,
    Wenzek et al. 2020) with the model reduced to the corpus UNIGRAM
    LM: score every doc by mean bits/token −log₂ p(token), roll up per
    language, and report the share of docs above the corpus-mean score
    (the suspect tail a production gate would re-score with a real
    LM). Complements cur_rarity_score — that ranks by document
    frequency (IDF), this by term frequency: boilerplate scores LOW
    here, gibberish scores HIGH.

    Exactness: per-VOCAB-ENTRY bits are one fixed-shape chain
    (division → log2 → ×1e6 → floor) — deterministic per value in any
    engine; per-doc scores are integer sums integer-divided by token
    count; the corpus-mean flag threshold is an integer division of
    integer sums; language rollups are integer sums + one final
    division each. No order-dependent float reduction anywhere.

    Scale: the LM is |vocab| counter rows (map-side combined — the
    same shape as txt_doc_frequency); scoring is one broadcast-join of
    tokens against the vocab bits table and one groupBy(doc_id);
    output is |langs| rows."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).persist()
    lm = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("ct"))
    tot = tok.agg(F.count(F.lit(1)).alias("t"))
    bits = lm.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(F.log2(F.col("t").cast("double") / F.col("ct")) * 1000000)
        .cast("bigint")
        .alias("bpt_e6"),
    )
    per_doc = (
        tok.join(bits, "tok")
        .groupBy("doc_id")
        .agg(
            F.first("lang").alias("lang"),
            F.expr("sum(bpt_e6) div count(1)").alias("score_e6"),
        )
    )
    thresh = per_doc.agg(F.expr("sum(score_e6) div count(1)").alias("mean_e6"))
    flagged = F.col("score_e6") > F.col("mean_e6")
    return (
        per_doc.crossJoin(F.broadcast(thresh))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (
                F.sum("score_e6").cast("double") / (F.count(F.lit(1)) * 1000000.0)
            ).alias("mean_bits_per_token"),
            F.sum(F.when(flagged, 1).otherwise(0))
            .cast("bigint")
            .alias("n_above_corpus_mean"),
            (
                F.sum(F.when(flagged, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("share_above_corpus_mean"),
        )
        .orderBy("lang")
    )


# --- interpolated bigram LM perplexity gate (r7 verdict #4) ------------------

# fixed interpolation weight λ = BIGRAM_LAMBDA_NUM / BIGRAM_LAMBDA_DEN:
# p(w|prev) = λ·c(prev,w)/c(prev·) + (1−λ)·c(w)/T.  The ratio form keeps
# every probability ONE division of integer products, so the bits chain
# (division → log2 → ×1e6 → floor) is the same fixed shape per distinct
# count tuple on both engines.
BIGRAM_LAMBDA_NUM = 7
BIGRAM_LAMBDA_DEN = 10


def _bigram_doc_scores(docs: DataFrame) -> DataFrame:
    """Per-doc mean bits/token under the corpus-interpolated bigram LM:
    (doc_id, lang, score_e6). Exposed separately so the planted-shuffle
    pytest can compare per-doc scores directly.

    Token i > 1 scores −log₂(λ·p_bi + (1−λ)·p_uni) with the integer-
    ratio spelling (10·c_prev·T) / (7·c_bi·T + 3·ct·c_prev); the first
    token of each doc has no left context and scores pure unigram
    T/ct — the identical chain cur_perplexity_proxy uses."""
    lam_n, lam_d = BIGRAM_LAMBDA_NUM, BIGRAM_LAMBDA_DEN
    comp = lam_d - lam_n
    # Bigrams are formed ARRAY-SIDE (slice + arrays_zip over the split
    # tokens, r10): the original lag() window shuffled AND sorted the
    # whole token stream by doc_id only to pair each token with its
    # neighbor — consecutive pairs are a row-local property of the
    # text. The grain then drops to DISTINCT (doc, prev, tok) triples
    # with multiplicity m, so the bits join and the per-doc rollup
    # move |doc-bigram| rows instead of |token| rows (guide §2.3/§2.4).
    # All counts and formulas are the same integers; per-doc sums use
    # sum(m·bits) = sum over tokens of bits exactly.
    base = docs.select("doc_id", "lang", F.split("text", " ").alias("t"))
    dbi = track_persist(
        base.select(
            "doc_id",
            "lang",
            F.explode(
                F.expr("arrays_zip(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1))")
            ).alias("p"),
        )
        .select("doc_id", "lang", F.col("p.0").alias("prev"), F.col("p.1").alias("tok"))
        .groupBy("doc_id", "lang", "prev", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
        .persist()
    )
    alltok = base.select("doc_id", "lang", F.explode("t").alias("tok"))
    uni = alltok.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    tot = alltok.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    bi = dbi.groupBy("prev", "tok").agg(F.sum("m").cast("bigint").alias("cb"))
    cprev = bi.groupBy("prev").agg(F.sum("cb").cast("bigint").alias("cp"))
    # bits per DISTINCT (prev, tok): explicit left-to-right double
    # products, identical parenthesization in the oracle
    bi_bits = (
        bi.join(cprev, "prev")
        .join(uni, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "prev",
            "tok",
            F.floor(
                F.log2(
                    ((F.lit(float(lam_d)) * F.col("cp")) * F.col("t"))
                    / (
                        ((F.lit(float(lam_n)) * F.col("cb")) * F.col("t"))
                        + ((F.lit(float(comp)) * F.col("ct")) * F.col("cp"))
                    )
                )
                * 1000000
            )
            .cast("bigint")
            .alias("bits_e6"),
        )
    )
    uni_bits = uni.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(F.log2(F.col("t").cast("double") / F.col("ct")) * 1000000)
        .cast("bigint")
        .alias("bits_e6"),
    )
    # Every doc's FIRST token has no left context and scores pure
    # unigram — exactly the rows the old lag() produced with prev NULL.
    firsts = base.select("doc_id", "lang", F.col("t").getItem(0).alias("tok"))
    scored = (
        dbi.join(bi_bits, ["prev", "tok"])
        .select("doc_id", "lang", (F.col("m") * F.col("bits_e6")).alias("s"), "m")
        .unionByName(
            firsts.join(uni_bits, "tok").select(
                "doc_id",
                "lang",
                F.col("bits_e6").alias("s"),
                F.lit(1).cast("bigint").alias("m"),
            )
        )
    )
    return scored.groupBy("doc_id").agg(
        F.first("lang").alias("lang"),
        F.expr("sum(s) div sum(m)").alias("score_e6"),
    )


def _bigram_sql() -> str:
    lam_n, lam_d = BIGRAM_LAMBDA_NUM, BIGRAM_LAMBDA_DEN
    comp = lam_d - lam_n
    return f"""
    WITH seq AS (
        SELECT doc_id, lang, w.pos AS pos, w.tok AS tok,
               LAG(w.tok) OVER (PARTITION BY doc_id ORDER BY w.pos) AS prev
        FROM documents,
             LATERAL (SELECT UNNEST(string_split(text, ' ')) AS tok,
                             UNNEST(generate_series(1, len(string_split(text, ' ')))) AS pos) w
    ),
    uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS ct FROM seq GROUP BY tok),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM seq),
    bi AS (
        SELECT prev, tok, CAST(COUNT(*) AS BIGINT) AS cb
        FROM seq WHERE prev IS NOT NULL GROUP BY prev, tok
    ),
    cprev AS (SELECT prev, CAST(SUM(cb) AS BIGINT) AS cp FROM bi GROUP BY prev),
    bi_bits AS (
        SELECT bi.prev, bi.tok,
               CAST(FLOOR(log2(
                   (({lam_d}.0 * cprev.cp) * tot.t)
                   / ((({lam_n}.0 * bi.cb) * tot.t) + (({comp}.0 * uni.ct) * cprev.cp))
               ) * 1000000) AS BIGINT) AS bits_e6
        FROM bi JOIN cprev USING (prev) JOIN uni USING (tok) CROSS JOIN tot
    ),
    uni_bits AS (
        SELECT tok,
               CAST(FLOOR(log2(CAST(tot.t AS DOUBLE) / ct) * 1000000) AS BIGINT)
                   AS bits_e6
        FROM uni CROSS JOIN tot
    ),
    scored AS (
        SELECT s.doc_id, s.lang, b.bits_e6
        FROM seq s JOIN bi_bits b ON b.prev = s.prev AND b.tok = s.tok
        WHERE s.prev IS NOT NULL
        UNION ALL
        SELECT s.doc_id, s.lang, u.bits_e6
        FROM seq s JOIN uni_bits u ON u.tok = s.tok
        WHERE s.prev IS NULL
    ),
    per_doc AS (
        SELECT doc_id, ANY_VALUE(lang) AS lang,
               SUM(bits_e6) // COUNT(*) AS score_e6
        FROM scored GROUP BY doc_id
    ),
    thresh AS (SELECT SUM(score_e6) // COUNT(*) AS mean_e6 FROM per_doc)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(score_e6) AS DOUBLE) / (COUNT(*) * 1000000.0)
               AS mean_bits_per_token,
           CAST(SUM(CASE WHEN score_e6 > thresh.mean_e6 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above_corpus_mean,
           CAST(SUM(CASE WHEN score_e6 > thresh.mean_e6 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS share_above_corpus_mean
    FROM per_doc CROSS JOIN thresh
    GROUP BY lang, thresh.mean_e6 ORDER BY lang
    """


@register(
    "cur_perplexity_bigram",
    oracle=_bigram_sql(),
    description="interpolated bigram-LM perplexity gate (λ=0.7 bigram + 0.3 unigram, integer-ratio probabilities): per-lang mean bits/token + above-mean suspect share — catches word-salad the unigram proxy provably cannot",
)
def cur_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r7-verdict #4 upgrade of cur_perplexity_proxy: a fixed-λ
    INTERPOLATED BIGRAM language model. The unigram proxy is blind to
    local fluency — a word-salad document with the right unigram
    distribution but shuffled order scores exactly clean (its per-doc
    score is a mean over the same token multiset). The bigram term
    prices word ORDER: shuffled text hits rare (prev, tok) pairs whose
    λ·p_bi mass collapses toward the (1−λ) unigram floor, so its
    bits/token rises — the planted-shuffle pytest pins exactly this
    contrast (unigram scores equal, bigram score strictly higher).

    Exactness: p(w|prev) = λ·c_bi/c_prev + (1−λ)·ct/T is spelled as the
    single ratio (10·c_prev·T) / (7·c_bi·T + 3·ct·c_prev) — explicit
    left-to-right double products, one log2, ×1e6, floor; identical
    parenthesization in the oracle, so per-pair bits are bit-identical.
    Per-doc and threshold arithmetic stay on the integer grid.

    Scale: the bigram LM is |bigram vocab| counter rows (map-side
    combined); scoring joins tokens against the bits tables on
    (prev, tok) — broadcastable at real vocab sizes (vocab grows ~log
    corpus) — and one groupBy(doc_id); output is |langs| rows. The one
    lag window shuffles by doc_id, the same partitioning the score
    rollup reuses."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = _bigram_doc_scores(docs)
    thresh = per_doc.agg(F.expr("sum(score_e6) div count(1)").alias("mean_e6"))
    flagged = F.col("score_e6") > F.col("mean_e6")
    return (
        per_doc.crossJoin(F.broadcast(thresh))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (
                F.sum("score_e6").cast("double") / (F.count(F.lit(1)) * 1000000.0)
            ).alias("mean_bits_per_token"),
            F.sum(F.when(flagged, 1).otherwise(0))
            .cast("bigint")
            .alias("n_above_corpus_mean"),
            (
                F.sum(F.when(flagged, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("share_above_corpus_mean"),
        )
        .orderBy("lang")
    )


# --- token-budget greedy selection ------------------------------------------

BUDGET_PCT = 30  # select up to 30% of the corpus token mass


@register(
    "cur_budget_select",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, lang,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
                   AS n_tokens,
               n_chars
        FROM documents
    ),
    scored AS (
        SELECT *, (n_chars * 1000000) // GREATEST(n_tokens, 1) AS ratio_e6
        FROM sized
    ),
    tot AS (SELECT SUM(n_tokens) AS t FROM sized),
    ranked AS (
        SELECT s.*, tot.t,
               SUM(n_tokens) OVER (ORDER BY ratio_e6 DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM scored s CROSS JOIN tot
    ),
    flagged AS (
        SELECT lang, n_tokens,
               CASE WHEN cum * 100 <= t * {BUDGET_PCT} THEN 1 ELSE 0 END AS sel
        FROM ranked
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(sel) AS BIGINT) AS n_selected,
           CAST(SUM(CASE WHEN sel = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
               AS selected_tokens,
           CAST(SUM(sel) AS DOUBLE) / COUNT(*) AS share_selected
    FROM flagged GROUP BY lang ORDER BY lang
    """,
    description=f"greedy token-budget selection: top chars-per-token docs until {BUDGET_PCT}% of corpus tokens, via the sharded global cumsum",
)
def cur_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted greedy selection — the knapsack every curation run
    ends with: rank docs by a per-token value score (here the
    chars-per-token proxy; production plugs in a model quality score)
    and keep the prefix whose token mass fits the corpus budget
    (BUDGET_PCT=30% of total tokens). Greedy-by-ratio means selection
    is a PREFIX of the ranked order, so the whole decision is one
    running sum over that order.

    Scale: the running sum over doc grain uses the sharded-cumsum
    decomposition (functions/ranks.with_global_cumsum — quantile
    buckets, partition-local running sums, broadcast offsets), NOT a
    single-task global window; the budget test is an integer
    cross-multiply (cum·100 ≤ total·pct) against a 1-row broadcast —
    exact on both engines. Rollup is |langs| rows of integer sums.
    """
    from lime_etl_spark.functions.ranks import with_global_cumsum
    from lime_etl_spark.operators.text import BPE_RE

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "lang",
        F.regexp_count("text", F.lit(BPE_RE)).cast("bigint").alias("n_tokens"),
        "n_chars",
    )
    scored = sized.withColumn(
        "ratio_e6", F.expr("(n_chars * 1000000) div greatest(n_tokens, 1)")
    )
    tot = scored.agg(F.sum("n_tokens").alias("t"))
    ranked = with_global_cumsum(
        scored,
        -F.col("ratio_e6"),
        [F.desc("ratio_e6"), F.col("doc_id")],
        "n_tokens",
        out="cum",
    )
    sel = F.when(F.col("cum") * 100 <= F.col("t") * BUDGET_PCT, 1).otherwise(0)
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select("lang", "n_tokens", sel.alias("sel"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("sel").cast("bigint").alias("n_selected"),
            F.sum(F.when(F.col("sel") == 1, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("selected_tokens"),
            (F.sum("sel").cast("double") / F.count(F.lit(1))).alias("share_selected"),
        )
        .orderBy("lang")
    )
