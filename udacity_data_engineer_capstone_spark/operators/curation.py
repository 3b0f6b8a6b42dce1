"""End-to-end training-corpus curation (north-star showcase).

Chains the pipeline a 100 TB pretraining-data run actually executes —
quality gate → exact dedup → near-dup removal — into one dataflow over
the planted-duplicate corpus, and verifies the whole chain against a
single DuckDB oracle. Every stage is a narrow, shuffle-bounded operator
from this package:

1. quality gate: token count threshold (pure projection+filter);
2. exact dedup: keep the min doc_id per md5(text) group — survivors via
   LEFT SEMI join against the keeper set;
3. near-dup removal: MinHash-LSH verified pairs (a_id < b_id), dropping
   every b_id via LEFT ANTI join — the deterministic "keep the earliest"
   policy.

Semi/anti joins keep the document rows on one side only — the keeper and
pair sets that cross the shuffle are id-width, never text-width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from udacity_data_engineer_capstone_spark.operators.dedup import (
    CORPUS_CTE,
    _MINHASH_ORACLE,
    _SHINGLES_DUCK,
    _SHINGLES_SPARK,
    _minhash_pairs,
    corpus,
    dedup_exact,
    dedup_minhash_lsh,
)
from udacity_data_engineer_capstone_spark.catalog import (
    load_table,
    load_table_scaled,
    register_views,
)
from udacity_data_engineer_capstone_spark.memo import scratch_dir
from udacity_data_engineer_capstone_spark.operators.ordinal import (
    composite_bucket_key,
    global_row_number,
)
from udacity_data_engineer_capstone_spark.registry import query

MIN_TOKENS = 20

_CURATE_ORACLE = f"""
WITH {CORPUS_CTE},
q AS (
  SELECT doc_id, text,
         CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS INT) AS n_tokens
  FROM corpus
),
keepers AS (
  SELECT MIN(doc_id) AS keep_id FROM corpus GROUP BY md5(text)
),
pairs AS (
  {_MINHASH_ORACLE}
)
SELECT doc_id, n_tokens
FROM q
WHERE n_tokens >= {MIN_TOKENS}
  AND doc_id IN (SELECT keep_id FROM keepers)
  AND doc_id NOT IN (SELECT b_id FROM pairs)
"""


@query("curate_training_corpus", oracle=_CURATE_ORACLE, tags=("pipeline", "dedup"))
def curate_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate → exact dedup → near-dup removal in one dataflow.

    r13 (VERDICT r12 item 4, guide §2.3/§6): the three stages used to
    derive the planted corpus INDEPENDENTLY (quality scan, exact-dedup
    scan, minhash scan) — concurrent in one DAG locally, three full
    corpus passes at scale. Now ONE localCheckpoint of the corpus
    (scaled layout, the per-row-compute-heavy minhash stage's choice;
    row set identical) feeds all three branches. The keep policy stays
    single-definition: the exact-dedup aggregate is the same
    groupBy(md5(text)) → min(doc_id) the registered ``dedup_exact``
    computes, and the near-dup stage is ``dedup_minhash_lsh``'s kernel
    via its ``_minhash_pairs`` seam."""
    c = corpus(spark, sf_dir, scaled=True).localCheckpoint(eager=False)
    docs = c.withColumn(
        "n_tokens", F.size(F.split(F.lower("text"), r"\s+"))
    )
    quality = docs.filter(F.col("n_tokens") >= MIN_TOKENS)

    keepers = c.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id")
    ).select("keep_id")
    near_dup_losers = _minhash_pairs(c).select("b_id")

    return (
        quality.join(keepers, quality.doc_id == keepers.keep_id, "left_semi")
        .join(
            near_dup_losers,
            quality.doc_id == near_dup_losers.b_id,
            "left_anti",
        )
        .select("doc_id", "n_tokens")
    )


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------

# per-source keep-rates out of 100 (quality-weighted mixing, the knob a
# pretraining data recipe turns); sources not listed keep 50%
SAMPLE_RATES = {"src0": 80, "src1": 40, "src2": 10}
_DEFAULT_RATE = 50

# Knuth multiplicative hash — pure 64-bit integer arithmetic, so Spark
# and DuckDB compute the identical pseudo-random stratum for every row
# (no engine RNG involved; doc_id*2654435761 stays well under 2^63)
_HASH_MOD = "({key} * 2654435761) % 100"


def _rate_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{s}' THEN {r}" for s, r in sorted(SAMPLE_RATES.items())
    )
    return f"CASE source {whens} ELSE {_DEFAULT_RATE} END"


_STRATIFIED_ORACLE = f"""
SELECT doc_id, source,
       CAST({_rate_case_sql()} AS DOUBLE) / 100 AS keep_rate,
       100.0 / ({_rate_case_sql()}) AS weight
FROM documents
WHERE {_HASH_MOD.format(key="doc_id")} < {_rate_case_sql()}
"""


@query("curate_stratified_sample", oracle=_STRATIFIED_ORACLE, tags=("pipeline",))
def curate_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source stratified sampling with inverse-rate
    weights: keep a row when hash(doc_id) mod 100 falls under its
    source's rate. Hash-gated sampling (vs ``df.sample``) is reproducible
    across runs, partitionings, and engines — the property a training
    recipe needs for auditability. Pure filter: no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.expr(_rate_case_sql())
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 100
    return docs.filter(bucket < rate).select(
        "doc_id",
        "source",
        (rate.cast("double") / 100).alias("keep_rate"),
        (F.lit(100.0) / rate).alias("weight"),
    )


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

PACK_BUDGET = 512


_PACK_ORACLE = f"""
WITH q AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS INT) AS n_tokens
  FROM documents
)
SELECT doc_id, source, n_tokens,
       CAST(floor(
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0)
         / {PACK_BUDGET}.0) AS BIGINT) AS seq_id
FROM q
"""


@query("curate_pack_sequences", oracle=_PACK_ORACLE, tags=("pipeline",))
def curate_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing: assign documents (in deterministic
    doc_id order, per source) to fixed token-budget training sequences
    by cumulative token count — the contiguous-packing strategy
    pretraining loaders use. One window shuffle on the source key; the
    running sum is integer-valued, hence fold-order exact."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.lower("text"), r"\s+")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return docs.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(cum_before / PACK_BUDGET).cast("long").alias("seq_id"),
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

# Docs whose id ≡ 3 (mod 97) play the role of the held-out eval set; every
# other doc is a training candidate scored by what fraction of its 3-gram
# shingles appear anywhere in the eval set.
BENCH_MOD = 97
BENCH_REMAINDER = 3
CONTAM_THRESHOLD = 0.2

_CONTAM_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
        FROM documents)
),
bench AS (
  SELECT DISTINCT unnest(shingles) AS gram
  FROM sh WHERE doc_id % {BENCH_MOD} = {BENCH_REMAINDER}
),
cand AS (
  SELECT doc_id, shingles FROM sh
  WHERE doc_id % {BENCH_MOD} <> {BENCH_REMAINDER}
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_hits
  FROM (SELECT doc_id, unnest(shingles) AS gram FROM cand) e
  WHERE gram IN (SELECT gram FROM bench)
  GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(len(c.shingles) AS BIGINT) AS n_shingles,
       COALESCE(h.n_hits, 0) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / len(c.shingles)
         AS contamination,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / len(c.shingles)
         >= {CONTAM_THRESHOLD} AS is_contaminated
FROM cand c LEFT JOIN hits h ON h.doc_id = c.doc_id
"""


@query("curate_contamination", oracle=_CONTAM_ORACLE, tags=("pipeline", "text"))
def curate_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: score every training candidate by the
    fraction of its 3-gram shingles that collide with the held-out eval
    set's shingle vocabulary, and flag docs over the threshold.

    Scale posture: the eval-gram vocabulary is tiny relative to the
    corpus (benchmarks are thousands of docs, corpora are billions), so
    it is broadcast — the candidate side streams map-side with zero
    shuffle of document payloads; only (doc_id, count) pairs cross the
    wire for the per-doc hit aggregate. The contamination ratio is a
    single exact int/int division, so it is bit-identical across
    engines (no float-fold ambiguity)."""
    docs = load_table_scaled(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("toks")
    )
    # the shingle table feeds three consumers (bench vocabulary, the
    # candidate explode, and the per-doc size) — materialize it once
    sh = docs.select("doc_id", F.expr(_SHINGLES_SPARK).alias("shingles")).localCheckpoint(
        eager=False
    )
    is_bench = F.col("doc_id") % BENCH_MOD == BENCH_REMAINDER
    bench = (
        sh.filter(is_bench)
        .select(F.explode("shingles").alias("gram"))
        .distinct()
    )
    cand = sh.filter(~is_bench)
    hits = (
        cand.select("doc_id", F.explode("shingles").alias("gram"))
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0).cast("long"))
    contamination = n_hits.cast("double") / F.size("shingles")
    return (
        cand.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.size("shingles").cast("long").alias("n_shingles"),
            n_hits.alias("n_hits"),
            contamination.alias("contamination"),
            (contamination >= CONTAM_THRESHOLD).alias("is_contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# per-group document caps
# ---------------------------------------------------------------------------

GROUP_CAP = 40

_CAP_ORACLE = f"""
SELECT doc_id, source, lang, rn
FROM (
  SELECT doc_id, source, lang,
         CAST(row_number() OVER (PARTITION BY source, lang
                            ORDER BY doc_id) AS INT) AS rn
  FROM documents
)
WHERE rn <= {GROUP_CAP}
"""


@query("curate_group_cap", oracle=_CAP_ORACLE, tags=("pipeline",))
def curate_group_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, language) document cap — the anti-domination rule a
    corpus recipe applies so no single crawl domain or language floods
    the mix. Deterministic: rank by doc_id within each stratum, keep the
    first ``GROUP_CAP``. One window shuffle on the composite key; at
    100 TB Spark plans a partial WindowGroupLimit below the exchange
    (rank-filter pushdown), so each map task forwards at most CAP rows
    per stratum rather than its whole partition."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source", "lang").orderBy("doc_id")
    return (
        docs.select("doc_id", "source", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= GROUP_CAP)
    )


# ---------------------------------------------------------------------------
# domain mixture sampling
# ---------------------------------------------------------------------------

# Target mixture in permille: a head of high-value sources, a mid tier,
# and a long tail — the shape of a real pretraining recipe.
_MIX_CASE = """CAST(CASE
  WHEN source IN ('src0','src1','src2','src3','src4') THEN 100
  WHEN source IN ('src5','src6','src7','src8','src9') THEN 60
  ELSE 20 END AS BIGINT)"""

# One template, two integer-division spellings (Spark `DIV`, DuckDB `//`)
# — every other token is shared, so the semantics cannot drift. All
# arithmetic is exact integer: budget = max feasible corpus size under
# the mixture (the binding source fully consumed), per-source target =
# its share of that budget, acceptance rate in permille, and a
# multiplicative-hash gate on doc_id so the sample is reproducible
# across runs, partitionings, and engines (same property
# curate_stratified_sample relies on).
_MIX_TMPL = f"""
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s, {_MIX_CASE} AS w_s
  FROM documents GROUP BY source
),
feasible AS (
  SELECT MIN((n_s * 1000) {{d}} w_s) AS budget FROM counts
),
rates AS (
  SELECT source, n_s, w_s,
         ((((w_s * budget) {{d}} 1000)) * 1000) {{d}} n_s AS accept_permille
  FROM counts, feasible
)
SELECT /*+ BROADCAST(r) */ d.doc_id, d.source,
       CAST(r.w_s AS DOUBLE) / 1000 AS target_share,
       r.accept_permille,
       CAST(1000 AS DOUBLE) / r.accept_permille AS weight
FROM documents d
JOIN rates r ON r.source = d.source
WHERE (d.doc_id * 2654435761) % 1000 < r.accept_permille
"""


@query(
    "curate_mixture_weights",
    oracle=_MIX_TMPL.format(d="//"),
    tags=("pipeline",),
)
def curate_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: downsample every source to a target
    mixture (head/mid/tail shares) at the maximum feasible corpus size,
    with inverse-rate weights for loss reweighting. The per-source rate
    comes from one tiny aggregate (|sources| rows, broadcast back); the
    gate itself is a pure filter on a multiplicative hash of doc_id —
    no shuffle of the corpus at all, which is what lets this run as a
    map-only pass over 100 TB."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_MIX_TMPL.format(d="DIV"))


# ---------------------------------------------------------------------------
# deterministic reservoir sample
# ---------------------------------------------------------------------------

_RESERVOIR_K = 100

_RESERVOIR_ORACLE = f"""
SELECT doc_id, source,
       CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS STRING))) AS INT)
         AS sample_rank
FROM documents
ORDER BY md5(CAST(doc_id AS STRING))
LIMIT {_RESERVOIR_K}
"""


@query("curate_reservoir_sample", oracle=_RESERVOIR_ORACLE, tags=("curation",))
def curate_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-row corpus sample: rank every document by
    md5(doc_id) — a uniform, seedless, engine-portable permutation —
    and keep the k smallest. Equivalent to a reservoir sample but
    reproducible across engines and runs, which is what an eval-set
    carve-out needs (re-running the pipeline must not resample).

    Scale shape: ORDER BY + LIMIT k plans as TakeOrderedAndProject —
    each task keeps its local top-k, the driver merges k·tasks rows;
    the full corpus is never sorted or shuffled. The final rank is a
    window over the k survivors only."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("hk"),
    )
    topk = docs.orderBy("hk").limit(_RESERVOIR_K)
    w = Window.orderBy("hk")
    return topk.select(
        "doc_id",
        "source",
        F.row_number().over(w).cast("int").alias("sample_rank"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup
# ---------------------------------------------------------------------------

# Noisy-but-equivalent URL per document: pairs of consecutive doc_ids
# share a target page (doc_id DIV 2) but carry different surface noise —
# www. prefix + tracking params, uppercased host, or a trailing slash.
# The host keeps the page owner's source so the pair only collapses when
# both docs share a source (realistic: different sites are different
# pages). Shared SQL text: runs verbatim in Spark and DuckDB.
_URL_NOISY = """
CASE CAST(doc_id % 3 AS INT)
  WHEN 0 THEN 'https://www.' || source || '.example.com/page/'
              || CAST(CAST(floor(doc_id / 2) AS BIGINT) AS STRING)
              || '?utm_source=feed&ref=rss'
  WHEN 1 THEN 'HTTPS://' || upper(source) || '.EXAMPLE.COM/page/'
              || CAST(CAST(floor(doc_id / 2) AS BIGINT) AS STRING)
  ELSE 'https://' || source || '.example.com/page/'
       || CAST(CAST(floor(doc_id / 2) AS BIGINT) AS STRING) || '/'
END
"""

# scheme off; host lowercased, www. stripped; query string and trailing
# slash dropped. Path case is preserved (paths are case-sensitive; only
# scheme+host are case-insensitive per RFC 3986).
_URL_CANON_TMPL = """
WITH noisy AS (
  SELECT doc_id, {url_expr} AS url FROM documents
),
parts AS (
  SELECT doc_id,
         regexp_replace(url, '^[Hh][Tt][Tt][Pp][Ss]?://', '') AS base
  FROM noisy
),
canon AS (
  SELECT doc_id,
         regexp_replace(lower(split_part(base, '/', 1)), '^www[.]', '')
         || regexp_replace(
              regexp_replace(substr(base, length(split_part(base, '/', 1)) + 1),
                             '[?].*$', ''),
              '/$', '')
           AS canonical_url
  FROM parts
)
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_variants,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM canon
GROUP BY canonical_url
"""


@query(
    "dedup_url_canonical",
    oracle=_URL_CANON_TMPL.format(url_expr=_URL_NOISY),
    tags=("dedup", "curation"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the first pass of every web-crawl
    pipeline: the same page arrives as ``https://www.x.com/p?utm=…``,
    ``HTTPS://X.COM/p`` and ``x.com/p/``; canonicalize (case-fold
    scheme+host, strip ``www.``, drop tracking query params and the
    trailing slash — path case preserved per RFC 3986) and keep one doc
    per canonical URL. Pure string expressions → map-side, with one
    hash-width shuffle on the canonical key; the oracle runs the
    identical SQL text, so the transform chain is verified
    character-for-character."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_URL_CANON_TMPL.format(url_expr=_URL_NOISY))


# ---------------------------------------------------------------------------
# deterministic train/val/test split (hash-gated, reshuffle-proof)
# ---------------------------------------------------------------------------

# md5 is the one hash bit-identical in Spark and DuckDB; the first two
# hex chars give 256 uniform buckets, split 204/26/26 (~79.7/10.2/10.2%).
# Assignment depends only on doc_id, so re-ingesting, repartitioning, or
# appending new data never moves an existing document across splits.
# Shared SQL text.
_HASH_SPLIT_SQL = """
WITH assigned AS (
  SELECT doc_id, source,
         CASE WHEN substr(md5(CAST(doc_id AS STRING)), 1, 2) < 'cc' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS STRING)), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM assigned GROUP BY split
"""


@query("curate_hash_split", oracle=_HASH_SPLIT_SQL, tags=("curation",))
def curate_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by hashing the document
    key — the split that survives re-ingestion: membership is a pure
    function of doc_id (md5 prefix bucketing, ~80/10/10), so appends
    and repartitions never leak documents between splits and the split
    can be recomputed anywhere without a stored assignment table. The
    audit output is one aggregate row per split; the assignment itself
    is a narrow per-row expression (zero shuffle) ready to feed a
    partitioned write."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_HASH_SPLIT_SQL)


# ---------------------------------------------------------------------------
# winsorization: clamp outliers at exact per-source percentiles
# ---------------------------------------------------------------------------

# Exact p1/p99 by rank over the total order (n_chars, doc_id); the rank
# thresholds ceil(q*n) are exact (0.01*n is one correctly-rounded
# multiply, ceil is exact). Shared SQL text.
_WINSOR_SQL = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
),
bounds AS (
  SELECT source,
         CAST(MAX(CASE WHEN rk = CAST(ceil(0.01 * n) AS BIGINT)
                       THEN n_chars END) AS BIGINT) AS lo,
         CAST(MAX(CASE WHEN rk = CAST(ceil(0.99 * n) AS BIGINT)
                       THEN n_chars END) AS BIGINT) AS hi
  FROM ranked GROUP BY source
)
SELECT r.doc_id, r.source, r.n_chars,
       CAST(LEAST(GREATEST(r.n_chars, b.lo), b.hi) AS BIGINT)
         AS n_chars_winsorized,
       (r.n_chars < b.lo OR r.n_chars > b.hi) AS clipped
FROM ranked r JOIN bounds b ON r.source = b.source
"""


@query("curate_winsorize", oracle=_WINSOR_SQL, tags=("curation", "stats"))
def curate_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize document lengths at exact per-source p1/p99 — the
    outlier-clamp that keeps a handful of mega-documents from dominating
    length-balanced batch packing. Per-source rank windows (parallel
    across sources) locate the exact percentile values; the bounds table
    is |sources| rows and broadcasts back onto the corpus. At 100 TB the
    same shape runs off approx_percentile bounds instead of the exact
    rank — this is the exact reference semantics."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_WINSOR_SQL)


# ---------------------------------------------------------------------------
# quantized linear quality-model inference
# ---------------------------------------------------------------------------

# A distilled document-quality classifier deployed as a linear model
# with integer micro-unit weights: score = Σ wᵢ·fᵢ + b over exact
# integer features. Inference over a corpus is then a map-only column
# expression — the deployment shape for cheap model scoring at 100 TB
# (the expensive teacher model only labels the training sample).
_MODEL_WEIGHTS = {
    "n_tokens": 900,        # longer docs are better, up to a point
    "n_chars": -4,          # penalize extreme verbosity per token
    "n_digits": -350,       # numeric soup is usually tables/logs
    "n_upper": -120,        # SHOUTING and code dumps
}
_MODEL_BIAS = 50_000
_MODEL_THRESHOLD = 150_000

_MODEL_SCORE_SQL = (
    f"{_MODEL_WEIGHTS['n_tokens']} * n_tokens + {_MODEL_WEIGHTS['n_chars']} * n_chars"
    f" + {_MODEL_WEIGHTS['n_digits']} * n_digits + {_MODEL_WEIGHTS['n_upper']} * n_upper"
    f" + {_MODEL_BIAS}"
)

_MODEL_ORACLE = f"""
WITH feats AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)
           AS n_digits,
         CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS BIGINT)
           AS n_upper
  FROM documents
)
SELECT doc_id, n_tokens, n_chars, n_digits, n_upper,
       CAST({_MODEL_SCORE_SQL} AS BIGINT) AS score_micro,
       ({_MODEL_SCORE_SQL} >= {_MODEL_THRESHOLD}) AS keep
FROM feats
"""


@query("curate_model_score", oracle=_MODEL_ORACLE, tags=("curation", "ml"))
def curate_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate a corpus with a quantized linear classifier: exact
    integer features (token/char/digit/uppercase counts) dotted with
    integer micro-unit weights. Map-only, no shuffle at all — the plan
    is a projection over the scan, which is what makes model-based
    filtering affordable at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select("doc_id", *_model_feat_cols())
    score = _model_score_col()
    return feats.select(
        "doc_id", "n_tokens", "n_chars", "n_digits", "n_upper",
        score.cast("bigint").alias("score_micro"),
        (score >= _MODEL_THRESHOLD).alias("keep"),
    )


def _model_feat_cols() -> list:
    """The quantized linear classifier's exact-integer feature columns
    — factored out (r13) so ``pipe_pretrain_mix`` computes them on its
    ONE shared document scan with the identical definitions."""
    return [
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[0-9]", ""))
        ).cast("bigint").alias("n_digits"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[A-Z]", ""))
        ).cast("bigint").alias("n_upper"),
    ]


def _model_score_col():
    """The classifier's score expression over the named feature
    columns (single definition shared with the pipeline)."""
    return (
        F.col("n_tokens") * _MODEL_WEIGHTS["n_tokens"]
        + F.col("n_chars") * _MODEL_WEIGHTS["n_chars"]
        + F.col("n_digits") * _MODEL_WEIGHTS["n_digits"]
        + F.col("n_upper") * _MODEL_WEIGHTS["n_upper"]
        + _MODEL_BIAS
    )


# ---------------------------------------------------------------------------
# priority dedup: keep the preferred copy, not the arbitrary one
# ---------------------------------------------------------------------------

# The corpus ∪ planted mirror copies (same text, lower-trust source).
# Production dedup keeps the copy from the most-trusted source, THEN the
# earliest id — encoded as one integer keep-key so the argmin rides
# partial aggregation map-side (no window, no struct comparator).
# The mirror-id offset and the keep-key width are DERIVED (2·(MAX+1)):
# the old fixed +10000 offset collided with real doc ids already at
# sf0.1 (60k docs) and the fixed 100000 key width inverted the
# priority order at sf1 (round-11 fixed-offset audit).
_PRIORITY_OFF = "(SELECT MAX(doc_id) + 1 FROM documents)"

_PRIORITY_CTE = f"""
corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + {_PRIORITY_OFF} AS doc_id, text, 'mirror' AS source
  FROM documents WHERE doc_id % 7 = 0
)
"""

_PRIORITY_ORACLE = f"""
WITH {_PRIORITY_CTE},
keyed AS (
  SELECT md5(text) AS text_hash,
         doc_id,
         CASE WHEN source = 'mirror' THEN 1 ELSE 0 END
           * (2 * {_PRIORITY_OFF}) + doc_id AS k
  FROM corpus
)
SELECT text_hash,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       MIN(k) % (2 * {_PRIORITY_OFF}) AS keep_doc,
       CAST(SUM(CASE WHEN k >= 2 * {_PRIORITY_OFF} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mirrors
FROM keyed
GROUP BY text_hash
"""


@query("curate_dedup_priority", oracle=_PRIORITY_ORACLE, tags=("curation", "dedup"))
def curate_dedup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with source-priority keep selection: for every
    distinct text, keep the copy from the trusted source (mirrors lose),
    tie-broken by lowest doc_id. The preference is one integer keep-key
    (priority · 2·(MAX(doc_id)+1) + doc_id, widths data-derived so the
    encoding cannot invert at any corpus size) minimized per md5(text)
    group, so the whole operator is a single hash aggregate with
    map-side combine — same shuffle width as plain exact dedup. The
    derived offset rides as a broadcast scalar."""
    docs = load_table(spark, sf_dir, "documents")
    off = docs.agg((F.max("doc_id") + 1).alias("off"))
    corpus = (
        docs.select("doc_id", "text", "source")
        .unionAll(
            docs.where(F.col("doc_id") % 7 == 0)
            .crossJoin(F.broadcast(off))
            .select(
                (F.col("doc_id") + F.col("off")).alias("doc_id"),
                "text",
                F.lit("mirror").alias("source"),
            )
        )
        .crossJoin(F.broadcast(off))
    )
    k = (
        F.when(F.col("source") == "mirror", 1).otherwise(0)
        * (2 * F.col("off"))
        + F.col("doc_id")
    )
    return (
        corpus.select(
            F.md5("text").alias("text_hash"),
            k.alias("k"),
            (2 * F.col("off")).alias("w"),
        )
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            (F.min("k") % F.first("w")).alias("keep_doc"),
            F.sum(
                F.when(F.col("k") >= F.col("w"), 1).otherwise(0)
            ).alias("n_mirrors"),
        )
    )


# ---------------------------------------------------------------------------
# split hygiene: train/val overlap report
# ---------------------------------------------------------------------------

# The corpus ∪ mirror copies (same planted duplicates as
# curate_dedup_priority) hash-split 80/20 by md5(doc_id) — the
# deterministic split everybody ships — then audited for texts that
# leak across the boundary. This is the val-set decontamination check
# run before every training launch.
# mirror-id offset derived (round-11 fixed-offset audit: +10000
# collided with real ids at sf0.1 already)
_SPLIT_OVERLAP_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_PRIORITY_OFF} AS doc_id, text
  FROM documents WHERE doc_id % 7 = 0
),
split AS (
  SELECT doc_id, md5(text) AS text_hash,
         CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                        AS INTEGER) % 5 = 0
              THEN 'val' ELSE 'train' END AS part
  FROM corpus
),
by_hash AS (
  SELECT text_hash,
         CAST(SUM(CASE WHEN part = 'train' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_train,
         CAST(SUM(CASE WHEN part = 'val' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_val,
         MIN(doc_id) AS first_doc
  FROM split GROUP BY text_hash
)
SELECT text_hash, n_train, n_val, first_doc
FROM by_hash
WHERE n_train > 0 AND n_val > 0
"""


@query(
    "curate_validation_overlap",
    oracle=_SPLIT_OVERLAP_ORACLE,
    tags=("curation", "dedup"),
)
def curate_validation_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-hygiene audit: texts that appear on BOTH sides of the
    deterministic 80/20 hash split (duplicated docs whose copies hashed
    into different parts) — exactly the leakage a val-set
    decontamination pass must catch. One md5-keyed hash aggregate over
    the split corpus; train/val tallies ride map-side combine."""
    docs = load_table(spark, sf_dir, "documents")
    off = docs.agg((F.max("doc_id") + 1).alias("off"))
    corpus = docs.select("doc_id", "text").unionAll(
        docs.where(F.col("doc_id") % 7 == 0)
        .crossJoin(F.broadcast(off))
        .select((F.col("doc_id") + F.col("off")).alias("doc_id"), "text")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 5
    )
    split = corpus.select(
        "doc_id",
        F.md5("text").alias("text_hash"),
        F.when(bucket == 0, "val").otherwise("train").alias("part"),
    )
    return (
        split.groupBy("text_hash")
        .agg(
            F.sum(F.when(F.col("part") == "train", 1).otherwise(0)).alias("n_train"),
            F.sum(F.when(F.col("part") == "val", 1).otherwise(0)).alias("n_val"),
            F.min("doc_id").alias("first_doc"),
        )
        .where((F.col("n_train") > 0) & (F.col("n_val") > 0))
    )


# ---------------------------------------------------------------------------
# dataset datasheet (per source × language corpus card)
# ---------------------------------------------------------------------------

_DATASHEET_SQL = """
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(SUM(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT)
         AS total_words,
       CAST(SUM(length(text)) * 100 // COUNT(*) AS BIGINT)
         AS mean_chars_e2,
       CAST(MIN(length(text)) AS BIGINT) AS min_chars,
       CAST(MAX(length(text)) AS BIGINT) AS max_chars
FROM documents
GROUP BY source, lang
"""


@query("curate_datasheet", oracle=_DATASHEET_SQL, tags=("curation", "audit"))
def curate_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset datasheet: the per-(source, language) corpus card row —
    document count, char/word volume, exact centichars mean, and
    length extrema — the table every data release publishes
    ("Datasheets for Datasets", Gebru et al.) and every mixture
    decision starts from. One partial+final aggregate over the corpus;
    all integer outputs (mean as scaled integer division)."""
    docs = load_table_scaled(spark, sf_dir, "documents")
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
            F.sum(F.size(F.split("text", r"\s+"))).cast("long").alias("total_words"),
            F.min(F.length("text")).cast("long").alias("min_chars"),
            F.max(F.length("text")).cast("long").alias("max_chars"),
        )
        .select(
            "source",
            "lang",
            "n_docs",
            "total_chars",
            "total_words",
            F.expr("CAST(total_chars * 100 DIV n_docs AS BIGINT)").alias(
                "mean_chars_e2"
            ),
            "min_chars",
            "max_chars",
        )
    )


# ---------------------------------------------------------------------------
# temperature-scaled token-budget allocation (largest-remainder rounding)
# ---------------------------------------------------------------------------

_BUDGET_TOKENS = 1_000_000
_BUDGET_TEMP = 0.7  # weight = tokens^0.7 — upsamples the tail like mT5/ROOTS

_TOKEN_BUDGET_ORACLE = rf"""
WITH tok AS (
  SELECT source,
         CAST(SUM(len(regexp_split_to_array(text, '\s+'))) AS BIGINT)
           AS tokens_s
  FROM documents GROUP BY source
),
w AS (
  SELECT source, tokens_s,
         CAST(floor(pow(CAST(tokens_s AS DOUBLE), {_BUDGET_TEMP}) * 1000000)
              AS BIGINT) AS wq
  FROM tok
),
tw AS (SELECT CAST(SUM(wq) AS BIGINT) AS sw FROM w),
quota AS (
  SELECT w.source, w.tokens_s, w.wq,
         CAST({_BUDGET_TOKENS} AS DOUBLE) * w.wq / t.sw AS q
  FROM w CROSS JOIN tw t
),
base AS (
  SELECT source, tokens_s, wq, q,
         CAST(floor(q) AS BIGINT) AS base_alloc,
         q - floor(q) AS rem
  FROM quota
),
leftover AS (
  SELECT CAST({_BUDGET_TOKENS} - SUM(base_alloc) AS BIGINT) AS l FROM base
),
ranked AS (
  SELECT b.*, l.l,
         ROW_NUMBER() OVER (ORDER BY b.rem DESC, b.source) AS rk
  FROM base b CROSS JOIN leftover l
)
SELECT source, tokens_s,
       CAST(base_alloc + CASE WHEN rk <= l THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_tokens,
       CAST(floor(
         CAST(base_alloc + CASE WHEN rk <= l THEN 1 ELSE 0 END AS DOUBLE)
         * 1000000 / tokens_s
       ) AS BIGINT) AS sample_rate_ppm
FROM ranked
"""


@query(
    "curate_token_budget",
    oracle=_TOKEN_BUDGET_ORACLE,
    tags=("curation", "pipeline"),
)
def curate_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled token-budget allocation across sources: each
    source gets budget ∝ tokens^0.7 (the mT5/ROOTS-style tail upsample;
    contrast the explicit target shares of ``curate_mixture_weights``),
    rounded to integers by the largest-remainder method so allocations
    sum EXACTLY to the budget — the arithmetic a mixture config
    generator runs before a training-data build.

    Determinism: per-source token counts are exact BIGINTs; the
    temperature weight is floor-quantized to micro-units before the
    (exact) weight sum, so every later double is the same op tree in
    both engines; the +1 bonuses follow a total order (remainder desc,
    source asc). Scale shape: one corpus-sized token-count aggregate;
    everything after runs on |sources| rows with a broadcast scalar
    total."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(
        _TOKEN_BUDGET_ORACLE.replace(
            "len(regexp_split_to_array(text, '\\s+'))",
            "size(split(text, '\\\\s+'))",
        )
    )


# ---------------------------------------------------------------------------
# DSIR: hashed-n-gram importance resampling toward a target distribution
# ---------------------------------------------------------------------------

# Data Selection via Importance Resampling (Xie et al. 2023): score every
# raw document by how much its hashed unigram features look like a
# TARGET distribution (here: the English slice) vs the RAW corpus, then
# keep the top-scoring docs. Features hash into _DSIR_BUCKETS buckets
# via md5 (engine-neutral, like the KMV/theta sketches); the per-bucket
# log-likelihood ratio is quantized to micro-units BEFORE the per-doc
# sum (the suite's quantize-then-sum discipline), so doc scores are
# exact fold-order-independent BIGINTs. Headroom: |lr_micro| <= ~3.5e7,
# tf per doc <= doc length, so doc sums stay < 1e12 — int64-safe.
_DSIR_BUCKETS = 256
_DSIR_TOPK = 100
_DSIR_TARGET_LANG = "en"


def _dsir_bucket(pos_fn: str) -> str:
    h = "md5(concat('dsir:', term))"
    hv1 = f"({pos_fn}('0123456789abcdef', substr({h}, 1, 1)) - 1)"
    hv2 = f"({pos_fn}('0123456789abcdef', substr({h}, 2, 1)) - 1)"
    return f"CAST({hv1} * 16 + {hv2} AS BIGINT)"


_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, u.term
  FROM (SELECT doc_id, lang,
               string_split_regex(lower(text), '\\s+') AS arr
        FROM documents) d,
       LATERAL (SELECT unnest(arr) AS term) u
  WHERE u.term <> ''
),
bmap AS (
  SELECT term, {_dsir_bucket("strpos")} AS bucket
  FROM (SELECT DISTINCT term FROM toks)
),
feats AS (
  SELECT t.doc_id, t.lang, b.bucket, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks t JOIN bmap b USING (term)
  GROUP BY t.doc_id, t.lang, b.bucket
),
bucket_counts AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN tf ELSE 0 END)
           AS BIGINT) AS tgt_b,
         CAST(SUM(tf) AS BIGINT) AS raw_b
  FROM feats GROUP BY bucket
),
totals AS (
  SELECT CAST(SUM(tgt_b) AS BIGINT) AS tgt_tot,
         CAST(SUM(raw_b) AS BIGINT) AS raw_tot
  FROM bucket_counts
),
lr AS (
  SELECT bucket,
         CAST(floor((ln(CAST(tgt_b + 1 AS DOUBLE))
                     - ln(CAST(tgt_tot + {_DSIR_BUCKETS} AS DOUBLE))
                     - ln(CAST(raw_b + 1 AS DOUBLE))
                     + ln(CAST(raw_tot + {_DSIR_BUCKETS} AS DOUBLE)))
                    * 1000000) AS BIGINT) AS lr_micro
  FROM bucket_counts CROSS JOIN totals
),
scored AS (
  SELECT f.doc_id,
         CAST(SUM(f.tf) AS BIGINT) AS n_tokens,
         CAST(SUM(f.tf * lr.lr_micro) AS BIGINT) AS dsir_score_micro
  FROM feats f JOIN lr USING (bucket)
  GROUP BY f.doc_id
)
SELECT doc_id, n_tokens, dsir_score_micro,
       CAST(rk AS INT) AS dsir_rank,
       rk <= {_DSIR_TOPK} AS selected
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY dsir_score_micro DESC, doc_id)
                  AS rk
      FROM scored)
"""


def _dsir_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-sized half of the DSIR dataflow: token explode +
    inline md5 feature bucket + (doc, lang, bucket) tf aggregate.
    Exposed separately so plan tests can audit the explode→aggregate
    shape even though :func:`_dsir_scored` materializes it (the
    checkpoint hides this lineage from downstream plans)."""
    docs = load_table_scaled(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("term"),
        )
        .where(F.col("term") != "")
    )
    return (
        toks.withColumn("bucket", F.expr(_dsir_bucket("instr")))
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _dsir_feats_from_pairs(pairs: DataFrame) -> DataFrame:
    """DSIR features derived from a prebuilt (doc_id, lang, term, tf)
    token fold (r13 — pipe_pretrain_mix shares ONE corpus explode
    between the LM and DSIR branches). Identical values to
    :func:`_dsir_feats`: every occurrence of a term hashes to the same
    bucket, so summing pair tf per (doc, lang, bucket) equals counting
    token occurrences — and the md5 runs once per DISTINCT (doc, term)
    instead of once per occurrence."""
    return (
        pairs.where(F.col("term") != "")
        .withColumn("bucket", F.expr(_dsir_bucket("instr")))
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.sum("tf").alias("tf"))
    )


def _dsir_scored(
    spark: SparkSession, sf_dir: str, feats: DataFrame | None = None
) -> DataFrame:
    """The pre-rank DSIR scoring dataflow (exposed separately so plan
    tests can audit the join/broadcast shape — the ordinal's checkpoint
    hides this lineage from the final query's plan).

    r12: ``feats`` feeds THREE consumers (the bucket model, its totals
    scalar, and the final scoring join) and no ReusedExchange fired —
    the corpus explode + per-token md5 ran three times per query.
    One lazy localCheckpoint materializes it once; everything
    downstream is (doc×bucket)- or 256-row-sized. The pre-checkpoint
    shape stays auditable via :func:`_dsir_feats`.

    r13: callers holding a shared token fold pass ``feats`` (see
    :func:`_dsir_feats_from_pairs`); the default builds its own."""
    if feats is None:
        feats = _dsir_feats(spark, sf_dir)
    feats = feats.localCheckpoint(eager=False)
    bucket_counts = feats.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, F.col("tf")).otherwise(
                F.lit(0)
            )
        ).alias("tgt_b"),
        F.sum("tf").alias("raw_b"),
    )
    totals = bucket_counts.agg(
        F.sum("tgt_b").alias("tgt_tot"), F.sum("raw_b").alias("raw_tot")
    )
    lr = bucket_counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.floor(
            (
                F.log((F.col("tgt_b") + 1).cast("double"))
                - F.log((F.col("tgt_tot") + _DSIR_BUCKETS).cast("double"))
                - F.log((F.col("raw_b") + 1).cast("double"))
                + F.log((F.col("raw_tot") + _DSIR_BUCKETS).cast("double"))
            )
            * 1000000
        )
        .cast("long")
        .alias("lr_micro"),
    )
    return (
        feats.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("lr_micro")).alias("dsir_score_micro"),
        )
    )


@query("curate_dsir", oracle=_DSIR_ORACLE, tags=("pipeline", "text", "sketch"))
def curate_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: score each document by the hashed-unigram
    log-likelihood ratio between the target slice (lang = 'en') and the
    raw corpus, rank, and mark the top selection — the published recipe
    for "give me web data that looks like my high-quality target" at
    pretraining scale.

    Scale shape: the corpus-sized stages are the token explode and one
    (doc, bucket) hash aggregate whose fan-in is bounded by 256 buckets
    per doc; the feature bucket is pure md5 arithmetic computed INLINE
    on the token stream (no vocabulary-sized distinct/broadcast — a
    hapax-heavy 100 TB vocab would not fit a broadcast); the bucket
    model is 256 rows (broadcast back onto the stream), totals are one
    scalar. The global selection rank is the two-phase exact ordinal
    (``operators.ordinal.global_row_number``): histogram buckets →
    driver cumsum → within-bucket row_number — identical ranks, no
    single-partition window anywhere in the plan.

    Determinism: md5 feature hashing (no engine-private hash), exact
    integer tf lanes, per-bucket micro-quantized ln ratios summed as
    BIGINTs (headroom note above)."""
    scored = _dsir_scored(spark, sf_dir)
    ranked, _n = global_row_number(
        scored,
        [F.col("dsir_score_micro").desc(), F.col("doc_id")],
        -F.col("dsir_score_micro"),
        out="rk",
    )
    return ranked.select(
        "doc_id",
        "n_tokens",
        "dsir_score_micro",
        F.col("rk").cast("int").alias("dsir_rank"),
        (F.col("rk") <= _DSIR_TOPK).alias("selected"),
    )


# ---------------------------------------------------------------------------
# epoch shard/shuffle plan: deterministic training-order assignment
# ---------------------------------------------------------------------------

# A training run wants every epoch's read order to be (a) shuffled, (b)
# reproducible, (c) shardable across data-loader workers WITHOUT a
# global sort. Multiplicative-hash mixing gives each doc a pseudo-random
# sort key; sharding on the mix's low bits splits the corpus evenly; the
# within-shard rank is the loader's read position. hash-mix < 2^31 so
# mix*1 stays far inside int64; identical arithmetic both engines.
_SHARDS = 8
_SHARD_MIX = "({key} * 2654435761) % 2147483647"

_SHARD_ORACLE = f"""
WITH mixed AS (
  SELECT doc_id, {_SHARD_MIX.format(key="doc_id")} AS mix
  FROM documents
)
SELECT doc_id,
       CAST(mix % {_SHARDS} AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY mix % {_SHARDS}
                               ORDER BY mix, doc_id) AS BIGINT) AS position,
       CAST(COUNT(*) OVER (PARTITION BY mix % {_SHARDS}) AS BIGINT)
         AS n_in_shard
FROM mixed
"""


@query("curate_shard_shuffle", oracle=_SHARD_ORACLE, tags=("pipeline",))
def curate_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle plan: hash-mix each document, assign
    it to one of {n} loader shards, and rank it inside its shard — the
    (shard, position) pair IS the training read order, reproducible
    across runs and engines with no RNG state. Vary the epoch by adding
    the epoch number into the mix constant's salt.

    Scale shape: one shuffle on the shard key + per-shard sorts (a
    range-partitioned sort at cluster scale — no global order anywhere);
    the window never crosses shards. At 100 TB this is exactly the
    layout job that materializes webdataset/arrow shards.""".replace(
        "{n}", str(_SHARDS)
    )
    docs = load_table(spark, sf_dir, "documents")
    mixed = docs.select(
        "doc_id", F.expr(_SHARD_MIX.format(key="doc_id")).alias("mix")
    )
    wp = Window.partitionBy(F.col("mix") % _SHARDS)
    return mixed.select(
        "doc_id",
        (F.col("mix") % _SHARDS).cast("long").alias("shard"),
        F.row_number()
        .over(wp.orderBy("mix", "doc_id"))
        .cast("long")
        .alias("position"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n_in_shard"),
    )


# ---------------------------------------------------------------------------
# preference pairs: best-vs-worst quality pairings per source
# ---------------------------------------------------------------------------

# Reward-model / DPO data prep: within each source, pair the i-th best
# document with the i-th worst (chosen vs rejected) so every pair has a
# clear quality margin — the deterministic analogue of sampling
# preference pairs from a scored pool. Scores reuse curate_model_score
# verbatim; the mirror join is an equi-join on (source, mirrored rank).
_PREF_ORACLE = f"""
WITH scored AS (
  SELECT m.doc_id, d.source, m.score_micro
  FROM ({_MODEL_ORACLE}) m JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT doc_id, source, score_micro,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY score_micro DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM scored
)
SELECT a.source,
       a.doc_id AS chosen_doc,
       b.doc_id AS rejected_doc,
       CAST(a.score_micro - b.score_micro AS BIGINT) AS margin_micro,
       CAST(a.rn AS INT) AS pair_rank
FROM ranked a
JOIN ranked b
  ON b.source = a.source AND b.rn = a.n + 1 - a.rn
WHERE a.rn * 2 < a.n + 1
  AND a.score_micro > b.score_micro
"""


@query("curate_pref_pairs", oracle=_PREF_ORACLE, tags=("pipeline", "quality"))
def curate_pref_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for reward-model/DPO training:
    within each source, pair rank i (chosen) with rank n+1-i
    (rejected) by classifier score, keeping only pairs with a strictly
    positive margin. Deterministic (total-order ranks), and the margin
    column is the curriculum knob (train on large margins first).

    Scale shape: one score projection (map-only), per-source ranking
    windows, and a mirrored-rank equi-join that carries ids and scores
    only. The pair count is n/2 per source by construction."""
    scored = curate_model_score(spark, sf_dir).select("doc_id", "score_micro")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ranked = (
        scored.join(docs, "doc_id")
        .select(
            "doc_id",
            "source",
            "score_micro",
            F.row_number()
            .over(
                Window.partitionBy("source").orderBy(
                    F.col("score_micro").desc(), F.col("doc_id")
                )
            )
            .alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
        )
    )
    a = ranked.alias("a")
    b = ranked.alias("b")
    return (
        a.join(
            b,
            (F.col("b.source") == F.col("a.source"))
            & (F.col("b.rn") == F.col("a.n") + 1 - F.col("a.rn")),
        )
        .filter(
            (F.col("a.rn") * 2 < F.col("a.n") + 1)
            & (F.col("a.score_micro") > F.col("b.score_micro"))
        )
        .select(
            F.col("a.source").alias("source"),
            F.col("a.doc_id").alias("chosen_doc"),
            F.col("b.doc_id").alias("rejected_doc"),
            (F.col("a.score_micro") - F.col("b.score_micro"))
            .cast("long")
            .alias("margin_micro"),
            F.col("a.rn").cast("int").alias("pair_rank"),
        )
    )


# ---------------------------------------------------------------------------
# drop provenance: WHY did each document leave the training corpus?
# ---------------------------------------------------------------------------

# The governance artifact auditors actually ask for: every document
# curate_training_corpus drops, with its reason (precedence: quality >
# exact_dup > near_dup) and the evidence id (the kept twin). Reuses the
# same CTE constants as the pipeline so reasons can never drift from
# the real drop logic.
_PROV_ORACLE = f"""
WITH {CORPUS_CTE},
q AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS INT)
           AS n_tokens,
         md5(text) AS h
  FROM corpus
),
keepers AS (
  SELECT md5(text) AS h, MIN(doc_id) AS keep_id
  FROM corpus GROUP BY md5(text)
),
pairs AS (
  {_MINHASH_ORACLE}
)
SELECT q.doc_id,
       CASE
         WHEN q.n_tokens < {MIN_TOKENS} THEN 'quality'
         WHEN q.doc_id <> k.keep_id THEN 'exact_dup'
         ELSE 'near_dup'
       END AS reason,
       CASE
         WHEN q.n_tokens < {MIN_TOKENS} THEN NULL
         WHEN q.doc_id <> k.keep_id THEN k.keep_id
         ELSE (SELECT MIN(p.a_id) FROM pairs p WHERE p.b_id = q.doc_id)
       END AS evidence_id
FROM q JOIN keepers k USING (h)
WHERE q.n_tokens < {MIN_TOKENS}
   OR q.doc_id <> k.keep_id
   OR q.doc_id IN (SELECT b_id FROM pairs)
"""


@query("curate_drop_provenance", oracle=_PROV_ORACLE, tags=("pipeline", "dedup"))
def curate_drop_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document drop provenance for ``curate_training_corpus``:
    every dropped doc with its reason (quality gate, exact duplicate,
    near duplicate — first matching reason wins) and the id of the
    kept evidence twin. The audit table a data-governance review reads
    next to the corpus datasheet (``curate_datasheet``).

    Scale shape: the same hash-width dedup machinery as the pipeline
    (reused verbatim), one extra broadcast of the keeper map, and a
    min-aggregate over the near-dup pair list for evidence — ids and
    hashes on every shuffle, never text."""
    docs = corpus(spark, sf_dir).withColumn(
        "n_tokens", F.size(F.split(F.lower("text"), r"\s+"))
    ).withColumn("h", F.md5("text"))
    keepers = dedup_exact(spark, sf_dir).select(
        F.col("text_hash").alias("h"), "keep_id"
    )
    near = (
        dedup_minhash_lsh(spark, sf_dir)
        .groupBy("b_id")
        .agg(F.min("a_id").alias("near_evidence"))
    )
    j = (
        docs.join(keepers, "h")
        .join(near, docs["doc_id"] == near["b_id"], "left")
    )
    reason = (
        F.when(F.col("n_tokens") < MIN_TOKENS, F.lit("quality"))
        .when(F.col("doc_id") != F.col("keep_id"), F.lit("exact_dup"))
        .otherwise(F.lit("near_dup"))
    )
    evidence = (
        F.when(F.col("n_tokens") < MIN_TOKENS, F.lit(None).cast("long"))
        .when(F.col("doc_id") != F.col("keep_id"), F.col("keep_id"))
        .otherwise(F.col("near_evidence"))
    )
    return (
        j.filter(
            (F.col("n_tokens") < MIN_TOKENS)
            | (F.col("doc_id") != F.col("keep_id"))
            | F.col("near_evidence").isNotNull()
        )
        .select(
            "doc_id",
            reason.alias("reason"),
            evidence.alias("evidence_id"),
        )
    )


# ---------------------------------------------------------------------------
# padding-waste audit: does length-bucketed batching pay for itself?
# ---------------------------------------------------------------------------

# Fixed-size training batches pad every sequence to the batch max; the
# audit compares arrival-order batching vs length-sorted batching on
# the same corpus (token lengths proxied at n_chars/4). This is the
# number that justifies (or kills) a pre-training sort stage.
_PAD_BATCH = 8

_PADDING_SQL = f"""
WITH lens AS (
  SELECT doc_id, CAST(FLOOR(n_chars / 4.0) AS BIGINT) AS toks FROM documents
),
arrival AS (
  SELECT toks,
         CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY doc_id) - 1)
                    / {_PAD_BATCH}.0) AS BIGINT) AS batch
  FROM lens
),
sorted_b AS (
  SELECT toks,
         CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY toks, doc_id) - 1)
                    / {_PAD_BATCH}.0) AS BIGINT) AS batch
  FROM lens
),
per_batch AS (
  SELECT 'arrival_order' AS strategy, batch,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(toks) AS BIGINT) AS used,
         CAST(MAX(toks) * COUNT(*) AS BIGINT) AS capacity
  FROM arrival GROUP BY batch
  UNION ALL
  SELECT 'length_sorted', batch,
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(toks) AS BIGINT),
         CAST(MAX(toks) * COUNT(*) AS BIGINT)
  FROM sorted_b GROUP BY batch
)
SELECT strategy,
       CAST(COUNT(*) AS BIGINT) AS n_batches,
       CAST(SUM(used) AS BIGINT) AS content_tokens,
       CAST(SUM(capacity - used) AS BIGINT) AS padding_tokens,
       CAST(FLOOR(SUM(capacity - used) * 1000000.0 / SUM(capacity))
            AS BIGINT) AS waste_ppm
FROM per_batch
GROUP BY strategy
"""


@query("curate_padding_waste", oracle=_PADDING_SQL, tags=("curation",))
def curate_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for fixed-size training batches: every
    sequence in a batch pads to the batch max, so batch composition is
    money — this compares arrival-order batching against length-sorted
    batching on identical data and reports the wasted-token fraction
    of each. The measured gap is the budget case for a sort stage
    before ``curate_pack_sequences``-style packing.

    Scale shape: both batch orders come from the two-phase exact
    global ordinal (``operators.ordinal.global_row_number`` — range
    buckets + driver cumsum + within-bucket rank), so neither the
    arrival order nor the length-sorted order ever funnels the corpus
    through a single-partition window. Everything else is two hash
    aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id", F.floor(F.col("n_chars") / 4.0).cast("long").alias("toks")
    )
    batch = lambda rn: F.floor((rn - 1) / float(_PAD_BATCH)).cast("long")  # noqa: E731
    arr, _ = global_row_number(
        lens, [F.col("doc_id")], F.col("doc_id"), out="rn"
    )
    srt, _ = global_row_number(
        lens,
        [F.col("toks"), F.col("doc_id")],
        composite_bucket_key(F.col("toks"), F.col("doc_id")),
        out="rn",
    )

    def per_batch(df: DataFrame, strategy: str) -> DataFrame:
        return (
            df.select("toks", batch(F.col("rn")).alias("batch"))
            .groupBy("batch")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("toks").cast("long").alias("used"),
                (F.max("toks") * F.count(F.lit(1)))
                .cast("long")
                .alias("capacity"),
            )
            .withColumn("strategy", F.lit(strategy))
        )

    both = per_batch(arr, "arrival_order").unionByName(
        per_batch(srt, "length_sorted")
    )
    return both.groupBy("strategy").agg(
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        F.sum("used").cast("long").alias("content_tokens"),
        F.sum(F.col("capacity") - F.col("used"))
        .cast("long")
        .alias("padding_tokens"),
        F.floor(
            F.sum(F.col("capacity") - F.col("used"))
            * 1000000.0
            / F.sum("capacity")
        )
        .cast("long")
        .alias("waste_ppm"),
    )


# ---------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

# key_i = u_i^(1/w_i) with u from a deterministic integer hash — the
# top-k keys ARE a weighted sample without replacement. Deterministic
# u (multiplicative hash mod a prime, midpoint-offset to (0,1)) makes
# the "random" sample reproducible and cross-engine identical; ranking
# uses the equivalent monotone form -ln(u)/w ascending.
_AES_PRIME = 1000003
_AES_K = 20

_AES_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ((doc_id * 2654435761 + 12345) % {_AES_PRIME} + 0.5)
           / {_AES_PRIME}.0 AS u
  FROM documents
  WHERE n_chars > 0
),
ranked AS (
  SELECT doc_id, source, n_chars,
         -LN(u) / n_chars AS k
  FROM keyed
)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
       CAST(FLOOR(k * 1000000000) AS BIGINT) AS key_nano
FROM ranked
ORDER BY k, doc_id
LIMIT {_AES_K}
"""


@query("curate_weighted_sample", oracle=_AES_SQL, tags=("curation", "sampling"))
def curate_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis):
    the 20 documents with the largest u^(1/weight) keys form an exact
    length-weighted sample — the primitive behind 'sample training
    docs proportional to length/quality, no duplicates'. The uniform
    draw comes from a deterministic hash, so the sample is replayable
    and the oracle can verify it; the uniform companion is
    ``curate_reservoir_sample``.

    Scale shape: map-side key per row + a global top-k (Spark's
    TakeOrderedAndProject — partial top-k per partition, k-width
    merge; never a full sort at 100 TB)."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_AES_SQL)


# ---------------------------------------------------------------------------
# column masking policies (governance view for a restricted role)
# ---------------------------------------------------------------------------

# The masked projection an analyst role sees: stable join keys via
# md5-prefix pseudonyms, names redacted to a suffix, balances coarsened
# to bands. Masking is deterministic, so the masked view still joins
# to itself across tables/releases — the property that makes
# pseudonymization useful (and the one random tokens destroy).
_MASK_SQL = """
SELECT md5(CAST(c_custkey AS STRING)) AS cust_pseudo_id,
       CONCAT('***', substr(c_name, length(c_name) - 2, 3)) AS name_masked,
       c_mktsegment,
       CAST(FLOOR(c_acctbal / 1000) AS BIGINT) * 1000 AS acctbal_band_lo,
       c_acctbal IS NOT NULL AS has_balance
FROM customer
"""


@query("curate_column_masking", oracle=_MASK_SQL, tags=("curation", "privacy"))
def curate_column_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level masking policy applied as a governance view:
    pseudonymous stable keys (md5), suffix-only names, banded
    balances, and an existence flag instead of the raw value — what a
    restricted role queries instead of the base table. Deterministic
    pseudonyms keep cross-table joins working, which is the entire
    point of pseudonymization over tokenization; the k-anonymity and
    l-diversity audits upstream decide whether the bands are coarse
    enough to release.

    Scale shape: pure map-side projection — zero shuffle."""
    register_views(spark, sf_dir, ("customer",))
    return spark.sql(_MASK_SQL)


# ---------------------------------------------------------------------------
# GDPR erasure: delete a subject's rows everywhere, prove the residue is zero
# ---------------------------------------------------------------------------

# The deletion list is deterministic (user_id % 13 == 3 "erasure
# requests"); the audit row per table carries before/deleted/after
# counts and the residue check the DPO actually signs off on. The
# rewritten copies land in a temp location like every sink op here.
_GDPR_SQL = """
WITH del AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 13 = 3
),
ev AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_before,
         CAST(SUM(CASE WHEN user_id % 13 = 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_deleted
  FROM events
)
SELECT 'events' AS table_name, n_before, n_deleted,
       n_before - n_deleted AS n_after,
       CAST(0 AS BIGINT) AS residue_rows,
       TRUE AS erasure_complete
FROM ev
"""


@query("curate_gdpr_erasure", oracle=_GDPR_SQL, tags=("curation", "privacy"))
def curate_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure pipeline with proof: anti-join the deletion
    list out of the events table, REWRITE the table (the rewritten
    parquet is what production would atomically swap in), then
    re-scan the rewritten copy counting residue rows for the deleted
    subjects — the audit row reports before/deleted/after and a
    residue count the oracle pins at zero. The erasure is verified
    against the physically rewritten data, not the plan.

    Scale shape: the deletion list is request-sized → broadcast
    anti-join; the rewrite is the unavoidable cost of physical
    erasure (at 100 TB, partition-scoped rewrites via
    ``snk_dynamic_partition_overwrite``'s mechanism)."""
    d = scratch_dir("engine_gdpr_")
    ev = load_table(spark, sf_dir, "events")
    del_list = ev.where(F.col("user_id") % 13 == 3).select("user_id").distinct()
    kept = ev.join(F.broadcast(del_list), "user_id", "left_anti")
    kept.write.mode("overwrite").parquet(d)

    rewritten = spark.read.parquet(d)
    residue = rewritten.join(
        F.broadcast(del_list), "user_id", "left_semi"
    ).count()
    n_before = ev.count()
    n_after = rewritten.count()
    return spark.createDataFrame(
        [
            (
                "events",
                n_before,
                n_before - n_after,
                n_after,
                residue,
                residue == 0,
            )
        ],
        "table_name string, n_before bigint, n_deleted bigint,"
        " n_after bigint, residue_rows bigint, erasure_complete boolean",
    )


# ---------------------------------------------------------------------------
# license filter: legal-compliance gate for pretraining corpora
# ---------------------------------------------------------------------------

# License markers are planted deterministically (the corpus itself is
# synthetic): policy allows permissive, blocks copyleft, quarantines
# unknown-marker docs for review. Classification order matters — the
# first matching rule wins, like a real license scanner.
_LICENSE_SQL = """
WITH marked AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 11 = 0
                THEN text || ' Licensed under the MIT License.'
              WHEN doc_id % 11 = 1
                THEN text || ' Licensed under Apache License 2.0.'
              WHEN doc_id % 11 = 2
                THEN text || ' subject to the GNU GPL v3 license'
              WHEN doc_id % 11 = 3
                THEN text || ' All Rights Reserved.'
              ELSE text END AS text
  FROM documents
),
classified AS (
  SELECT doc_id, source,
         CASE WHEN text LIKE '%MIT License%'
                OR text LIKE '%Apache License%' THEN 'permissive'
              WHEN text LIKE '%GPL%' THEN 'copyleft'
              WHEN text LIKE '%All Rights Reserved%' THEN 'proprietary'
              ELSE 'unmarked' END AS license_class
  FROM marked
)
SELECT license_class,
       CASE license_class
            WHEN 'permissive' THEN 'keep'
            WHEN 'unmarked' THEN 'keep'
            WHEN 'copyleft' THEN 'quarantine'
            ELSE 'drop' END AS policy_action,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM classified
GROUP BY license_class
"""


@query("curate_license_filter", oracle=_LICENSE_SQL, tags=("curation",))
def curate_license_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License-compliance gate over the corpus: classify every
    document by its license marker (first matching rule wins, scanner
    style), then apply the training-data policy — permissive and
    unmarked train, copyleft quarantines for review, proprietary
    drops — and report the class × action counts legal signs off on.
    Markers are planted deterministically since the synthetic corpus
    carries none.

    Scale shape: map-side LIKE cascade + one small-keyed aggregate."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_LICENSE_SQL)


# ---------------------------------------------------------------------------
# active-learning selection: label where the model is least certain
# ---------------------------------------------------------------------------

# Uses the same deterministic propensity pseudo-score as
# stat_calibration_ece; uncertainty = distance from 0.5. The batch an
# annotation team should label next is the top-k MOST uncertain —
# uniform sampling wastes labels on examples the model already knows.
_AL_BATCH = 25

_ACTIVE_LEARNING_SQL = f"""
WITH scored AS (
  SELECT user_id,
         CAST(((user_id * 2654435761 + 42) % 500000)
              + MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                * 300000 + 100000 AS BIGINT) AS score_ppm
  FROM events GROUP BY user_id
)
SELECT user_id, score_ppm,
       CAST(ABS(score_ppm - 500000) AS BIGINT) AS uncertainty_dist_ppm
FROM scored
ORDER BY ABS(score_ppm - 500000), user_id
LIMIT {_AL_BATCH}
"""


@query(
    "curate_active_learning",
    oracle=_ACTIVE_LEARNING_SQL,
    tags=("curation", "eval"),
)
def curate_active_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertainty-sampling batch selection for annotation: the 25
    examples whose propensity score sits closest to the 0.5 decision
    boundary (deterministic tie-break on id) — each label there moves
    the boundary most, which is why active learning beats uniform
    labeling budgets. Pairs with ``stat_calibration_ece``: calibrate
    first, then sample by uncertainty.

    Scale shape: one user rollup + a global top-k
    (TakeOrderedAndProject: per-partition k, k-width merge — no full
    sort)."""
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_ACTIVE_LEARNING_SQL)


# ---------------------------------------------------------------------------
# split-leakage audit: near-dup pairs straddling train/val/test
# ---------------------------------------------------------------------------

_SPLIT_ASSIGN_EXPR = """
CASE WHEN substr(md5(CAST({ID} AS STRING)), 1, 2) < 'cc' THEN 'train'
     WHEN substr(md5(CAST({ID} AS STRING)), 1, 2) < 'e6' THEN 'val'
     ELSE 'test' END
"""


def _split_leakage_oracle() -> str:
    from udacity_data_engineer_capstone_spark.operators.dedup import (
        _MINHASH_ORACLE,
    )

    a = _SPLIT_ASSIGN_EXPR.format(ID="a_id").strip()
    b = _SPLIT_ASSIGN_EXPR.format(ID="b_id").strip()
    return f"""
WITH pairs AS ({_MINHASH_ORACLE}),
tagged AS (
  SELECT a_id, b_id,
         {a} AS split_a,
         {b} AS split_b
  FROM pairs
)
SELECT CASE WHEN split_a <= split_b THEN split_a ELSE split_b END AS split_lo,
       CASE WHEN split_a <= split_b THEN split_b ELSE split_a END AS split_hi,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       split_a <> split_b AS leaks
FROM tagged
GROUP BY 1, 2, 4
"""


@query(
    "curate_split_leakage",
    oracle=_split_leakage_oracle(),
    tags=("curation", "dedup", "eval"),
)
def curate_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit — the eval-hygiene check the hash split
    alone cannot give: ``curate_hash_split`` guarantees a document
    lands in one split, but a NEAR-DUPLICATE of a test document
    sitting in train still leaks the answer (the classic inflated-eval
    bug). Joins the MinHash-LSH near-dup pairs with each endpoint's
    split assignment and reports pair counts per split combination
    with a ``leaks`` flag — any cross-split row means eval numbers are
    soft until those pairs are collapsed to one side (the fix:
    split by CLUSTER id from ``dedup_cluster_cc``, not by doc id).

    Scale shape: the dedup pair table is the expensive input and is
    already sub-quadratic; the split tags are per-row md5 expressions;
    the rollup is a 6-cell hash aggregate."""
    from udacity_data_engineer_capstone_spark.operators.dedup import (
        dedup_minhash_lsh,
    )

    pairs = dedup_minhash_lsh(spark, sf_dir).select("a_id", "b_id")
    tag = lambda c: F.expr(_SPLIT_ASSIGN_EXPR.format(ID=c).strip())  # noqa: E731
    tagged = pairs.select(
        tag("a_id").alias("split_a"), tag("b_id").alias("split_b")
    )
    lo = F.when(F.col("split_a") <= F.col("split_b"), F.col("split_a")).otherwise(
        F.col("split_b")
    )
    hi = F.when(F.col("split_a") <= F.col("split_b"), F.col("split_b")).otherwise(
        F.col("split_a")
    )
    return (
        tagged.select(
            lo.alias("split_lo"),
            hi.alias("split_hi"),
            (F.col("split_a") != F.col("split_b")).alias("leaks"),
        )
        .groupBy("split_lo", "split_hi", "leaks")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select("split_lo", "split_hi", "n_pairs", "leaks")
    )


# ---------------------------------------------------------------------------
# data-constrained epoch schedule (temperature mixing under a token budget)
# ---------------------------------------------------------------------------
#
# When the training token budget exceeds the deduped corpus, sources
# must REPEAT — and naive proportional sampling starves small
# high-value sources. The standard fix is temperature-scaled mixing
# (w_i ∝ n_i^(1/T), here sqrt = T=2) under a fixed budget, and the
# actionable artifact is the per-source epoch schedule: how many
# passes over each source the sampler makes (repetition beyond ~4
# epochs yields sharply diminishing returns — the data-constrained
# scaling result — so the schedule is also an audit).

_EPOCH_BUDGET_X = 4  # token budget = 4x the corpus (forces repetition)

_EPOCH_ORACLE = f"""
WITH tok AS (
  SELECT source,
         CAST(SUM(len(string_split_regex(lower(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens,
         SUM(sqrt(CAST(n_tokens AS DOUBLE))) AS z
  FROM tok
)
, w AS (
  SELECT t.source, t.n_tokens,
         CAST(floor(sqrt(CAST(t.n_tokens AS DOUBLE)) / o.z * 1000000)
              AS BIGINT) AS weight_ppm,
         CAST(floor(sqrt(CAST(t.n_tokens AS DOUBLE)) / o.z
                    * o.corpus_tokens * {_EPOCH_BUDGET_X}) AS BIGINT)
           AS target_tokens
  FROM tok t CROSS JOIN tot o
)
-- BIGINT // BIGINT is true integer division (double // is plain
-- division in DuckDB, and the BIGINT cast would then ROUND)
SELECT source, n_tokens, weight_ppm, target_tokens,
       CAST(target_tokens * 1000 // n_tokens AS BIGINT) AS epochs_milli
FROM w
"""


@query("curate_epoch_schedule", oracle=_EPOCH_ORACLE, tags=("pipeline",))
def curate_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch schedule for a 4x-corpus token budget under
    sqrt-temperature mixing: weight_ppm = sqrt(n_i)/Σsqrt(n_j),
    target_tokens = weight x budget, epochs_milli = target/unique —
    the repetition audit a data-constrained pretraining run publishes
    (sources crossing ~4000 milli-epochs are flagged for more
    collection, not more sampling).

    Scale shape: one narrow map computes per-doc token counts, one
    (source)-keyed partial+final aggregate produces the |sources|-row
    table, and the temperature normalization happens on that tiny
    frame via a broadcast of the 1-row total — the corpus is scanned
    once, nothing else moves."""
    docs = load_table_scaled(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "source", F.size(F.split(F.lower("text"), r"\s+")).alias("n")
        )
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("n_tokens"))
        # |sources|-row result, reused by the total: materialize once so
        # the corpus is scanned exactly once (not re-read per consumer)
        .localCheckpoint(eager=False)
    )
    tot = tok.agg(
        F.sum("n_tokens").cast("long").alias("corpus_tokens"),
        F.sum(F.sqrt(F.col("n_tokens").cast("double"))).alias("z"),
    )
    return tok.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.expr(
            "CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) / z * 1000000) AS BIGINT)"
        ).alias("weight_ppm"),
        F.expr(
            f"CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) / z"
            f" * corpus_tokens * {_EPOCH_BUDGET_X}) AS BIGINT)"
        ).alias("target_tokens"),
        F.expr(
            f"CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) / z"
            f" * corpus_tokens * {_EPOCH_BUDGET_X}) * 1000"
            f" DIV n_tokens AS BIGINT)"
        ).alias("epochs_milli"),
    )


# ---------------------------------------------------------------------------
# deterministic epoch shuffle (two-phase global ordinal)
# ---------------------------------------------------------------------------

SHUFFLE_EPOCHS = 2


def _shuffle_hex_chars(spark: SparkSession) -> int:
    """md5-prefix bucket width, DERIVED from the session's parallelism
    instead of frozen (the mm_phash lesson: fixed-width devices must
    scale with their input). Buckets = 16^chars; MORE buckets mean
    more within-bucket-rank parallelism and the driver cumsum stays
    bounded by epochs x 16^chars rows. Local 32-way -> 2 chars (256
    buckets, the historical constant); a 100 TB profile with ~800k
    shuffle partitions -> the 4-char cap (65,536 buckets, a 131k-row
    driver loop). Note the cap means bucket count CAN sit below
    cluster parallelism at extreme scale — correctness is unaffected
    and each bucket is still only ~1/65k of the corpus; the trade is
    within-bucket rank tasks running at 65k-way instead of 800k-way
    parallelism, bought for a driver loop that stays trivially
    small."""
    import math as _math

    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(2, min(4, _math.ceil(_math.log2(max(parts, 2)) / 4)))

_SHUFFLE_ORACLE = f"""
WITH e AS (
  SELECT g.epoch, d.doc_id,
         md5(CAST(g.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR))
           AS k
  FROM documents d,
       (SELECT unnest(range(0, {SHUFFLE_EPOCHS})) AS epoch) g
)
SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY k, doc_id) - 1
            AS BIGINT) AS shuffle_pos
FROM e
"""


@query("curate_shuffle_epoch", oracle=_SHUFFLE_ORACLE, tags=("curation",))
def curate_shuffle_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch corpus shuffle — the ordinal every
    pretraining loader needs (sample i of epoch e must be the same doc
    on every rerun and every worker, and different epochs must visit
    the corpus in different orders). Position = global rank of
    ``md5(epoch:doc_id)``: seeded, idempotent, no RNG state.

    Scale shape — the point of this operator: a global ordinal is NOT
    ``row_number().over(Window.orderBy(...))``, which collapses the
    whole corpus into ONE task (the classic global-window trap; Spark
    even warns). Instead the rank is TWO-PHASE: (1) bucket rows by an
    md5-hex prefix whose WIDTH IS DERIVED from the session's shuffle
    parallelism (``_shuffle_hex_chars`` — 2 chars/256 buckets on the
    local profile, 4 chars/65k buckets at cluster parallelism: the
    sizing rule, not a frozen constant), count per (epoch, bucket) — a
    driver-side cumsum bounded by the bucket count, never by corpus
    size; (2) ``row_number`` within each (epoch, bucket) partition —
    corpus-sized work at bucket-level parallelism — plus the broadcast
    bucket offset. Same device as external sorting's histogram pass;
    the generalized form (arbitrary sort keys via percentile
    boundaries) lives in ``operators.ordinal``."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(SHUFFLE_EPOCHS).select(F.col("id").alias("epoch"))
    keyed = (
        docs.crossJoin(F.broadcast(epochs))
        .select(
            "epoch",
            "doc_id",
            F.md5(
                F.concat_ws(":", F.col("epoch").cast("string"),
                            F.col("doc_id").cast("string"))
            ).alias("k"),
        )
        .withColumn("bucket", F.substring("k", 1, _shuffle_hex_chars(spark)))
    )
    counts = (
        keyed.groupBy("epoch", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    offsets = []
    by_epoch: dict = {}
    for r in sorted(counts, key=lambda r: (r["epoch"], r["bucket"])):
        start = by_epoch.get(r["epoch"], 0)
        offsets.append((r["epoch"], r["bucket"], start))
        by_epoch[r["epoch"]] = start + r["n"]
    off_df = spark.createDataFrame(
        offsets, "epoch long, bucket string, offset long"
    )
    w = Window.partitionBy("epoch", "bucket").orderBy("k", "doc_id")
    return (
        keyed.join(F.broadcast(off_df), ["epoch", "bucket"])
        .select(
            "epoch",
            "doc_id",
            (F.col("offset") + F.row_number().over(w) - 1)
            .cast("long")
            .alias("shuffle_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Moore-Lewis cross-entropy-difference selection (round 9)
# ---------------------------------------------------------------------------

# The canonical in-domain data-selection rule (Moore & Lewis 2010,
# "Intelligent selection of language model training data" — public):
# score every candidate document by H_generic(d) - H_in(d), i.e. the
# per-token log-likelihood under an IN-DOMAIN LM minus the generic LM,
# and keep documents the in-domain model prefers. Complements
# curate_dsir (importance weights toward a target distribution) with
# the older, sharper two-LM contrast used for MT/LM corpus selection.
#
# LM definitions (engine-neutral so both engines hash identically):
# generic = unigram MLE over the whole corpus (every scored token has
# been seen, so no smoothing needed); in-domain = unigram with add-one
# smoothing over the 'src0' slice, smoothed against the GLOBAL
# vocabulary size V so out-of-domain tokens get a well-defined penalty
# P_in(w) = (c_in(w)+1)/(total_in+V). Per-token logs are
# micro-quantized BIGINTs (the house rule: integer sums are exact
# under any partitioning/fold order; float sums are not).

_ML_SEED_SOURCE = "src0"

_ML_ORACLE = f"""
WITH tokens AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
  FROM documents
),
vocab AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tokens GROUP BY term
),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
seed AS (SELECT doc_id FROM documents WHERE source = '{_ML_SEED_SOURCE}'),
vocab_in AS (
  SELECT t.term, CAST(COUNT(*) AS BIGINT) AS cnt_in
  FROM tokens t JOIN seed s USING (doc_id)
  GROUP BY t.term
),
total_in AS (SELECT CAST(SUM(cnt_in) AS BIGINT) AS total_in FROM vocab_in),
tok AS (
  SELECT t.doc_id,
         CAST(floor(ln(CAST(COALESCE(vi.cnt_in, 0) + 1 AS DOUBLE)
                       / (ti.total_in + tt.v)) * 1000000) AS BIGINT)
           AS lp_in,
         CAST(floor(ln(CAST(v.cnt AS DOUBLE) / tt.total) * 1000000)
           AS BIGINT) AS lp_gen
  FROM tokens t
  JOIN vocab v USING (term)
  LEFT JOIN vocab_in vi USING (term)
  CROSS JOIN total tt CROSS JOIN total_in ti
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(lp_in - lp_gen) AS BIGINT) AS ml_score_micro,
       CAST(SUM(lp_in - lp_gen) AS DOUBLE) / (1000000 * COUNT(*))
         AS avg_ml,
       (SUM(lp_in - lp_gen) > 0) AS selected
FROM tok
GROUP BY doc_id
"""


@query("curate_moore_lewis", oracle=_ML_ORACLE, tags=("curation", "quality"))
def curate_moore_lewis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moore-Lewis cross-entropy-difference selection: score every
    document by its per-token log-likelihood under an in-domain
    unigram LM (trained on the ``src0`` slice, add-one smoothed
    against the global vocabulary) minus the generic corpus LM;
    ``selected`` = the classic cut at 0 (the in-domain model likes the
    document more than the background model does). The two-LM contrast
    that predates and complements ``curate_dsir``'s importance
    weights.

    Scale shape: one token scan feeds BOTH vocabularies (term-width
    hash aggregates with map-side partials — document text never
    shuffles past tokenization); scoring is one equi-join of the token
    stream on term against each vocab (no static broadcast hints — the
    curate_dsir lesson: a 100 TB vocabulary is corpus-sized in its
    hapax tail, so AQE promotes from observed size or falls back to a
    term-keyed shuffle), the two scalar totals attach as 1-row
    broadcasts, and the output is one per-doc aggregate. Per-token
    logs are micro-quantized BIGINTs, so every sum is exact integer
    arithmetic under any partitioning. No windows anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("term")
    )
    vocab = tokens.groupBy("term").agg(F.count("*").alias("cnt"))
    totals = vocab.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("v")
    )
    seed = docs.filter(F.col("source") == _ML_SEED_SOURCE).select("doc_id")
    vocab_in = (
        tokens.join(seed, "doc_id", "left_semi")
        .groupBy("term")
        .agg(F.count("*").alias("cnt_in"))
    )
    total_in = vocab_in.agg(F.sum("cnt_in").alias("total_in"))
    tok = (
        tokens.join(vocab, "term")
        .join(vocab_in, "term", "left")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(total_in))
        .select(
            "doc_id",
            F.floor(
                F.log(
                    (F.coalesce(F.col("cnt_in"), F.lit(0)) + 1).cast("double")
                    / (F.col("total_in") + F.col("v"))
                )
                * 1000000
            ).alias("lp_in"),
            F.floor(
                F.log(F.col("cnt").cast("double") / F.col("total")) * 1000000
            ).alias("lp_gen"),
        )
    )
    diff = F.col("lp_in") - F.col("lp_gen")
    return tok.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(diff).alias("ml_score_micro"),
        (F.sum(diff).cast("double") / (F.lit(1000000) * F.count("*"))).alias(
            "avg_ml"
        ),
        (F.sum(diff) > 0).alias("selected"),
    )
