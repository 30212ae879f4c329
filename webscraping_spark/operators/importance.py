"""DSIR-style data selection: hashed n-gram importance weights and
deterministic importance resampling (Xie et al. 2023, "Data Selection for
Language Models via Importance Resampling").

The pipeline: featurize every doc as a bag of hashed unigram+bigram
buckets; fit per-bucket log ratios log(p_b/q_b) between a small TARGET
corpus (the distribution you want more of) and the RAW corpus; score each
raw doc by the sum of its buckets' log ratios; resample the top-k under
deterministic Gumbel noise (importance resampling without replacement).

Plan shapes, sized for 100 TB:
  - featurization (:func:`ngram_bucket_col`) is a pure row-local array
    expression — zero shuffle, fuses into the scan.
  - fitting (:func:`fit_logratios`) is one posexplode + map-side-combinable
    groupBy per corpus; the result is ``n_buckets`` rows (a few thousand),
    collected to the driver — bounded by B, not by corpus size.
  - scoring (:func:`importance_weights`) embeds the fitted ratios as ONE
    literal array and folds each doc's bucket list against it with
    ``element_at`` — zero shuffle, zero Python, whole-stage codegen; the
    100-TB scoring pass costs exactly one read of the text.
  - resampling (:func:`importance_resample`) is a global top-k
    (TakeOrderedAndProject — per-partition heaps, no full sort).

Cross-engine contract: the gram hash is the first 8 hex digits of md5
(``sampling._hash_bucket``'s convention), bit-identical in DuckDB as
``('0x' || substr(md5(g || ':' || salt), 1, 8))::UBIGINT % B``, so an
independent oracle can re-derive features, fit, weights and the resample
from scratch. Pass ``hasher="xxhash64"`` for the cheaper JVM hash when
auditability across engines is not required. Log ratios are rounded to 6
decimals at fit time, and doc scores re-rounded after the fold, so the
driver-side ``math.log`` and any re-deriving engine's ``ln`` agree exactly
(a final-ulp ln difference would need the true value within ~1e-16 of a
rounding boundary to matter).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_U32 = float(1 << 32)


def _gram_bucket(g: Column, n_buckets: int, salt: str, hasher: str) -> Column:
    if hasher == "md5":
        h = F.conv(
            F.substring(F.md5(F.concat(g, F.lit(":" + salt))), 1, 8), 16, 10
        ).cast("long")
    elif hasher == "xxhash64":
        h = F.pmod(F.xxhash64(F.concat(g, F.lit(":" + salt))), F.lit(1 << 32))
    else:
        raise ValueError(f"unknown hasher {hasher!r}")
    return (h % n_buckets).cast("int")


def ngram_bucket_col(
    text_col: str = "text",
    n_buckets: int = 4096,
    salt: str = "dsir",
    hasher: str = "md5",
) -> Column:
    """``array<int>`` of hashed unigram+bigram bucket ids for one doc.

    Tokens are the whitespace words of the lowercased text; bigrams join
    adjacent tokens with a single space. Multiplicity is kept (DSIR's
    feature vector counts occurrences). Pure row-local expression.
    """
    t = F.trim(F.lower(F.col(text_col)))
    toks = F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, "\\s+")
    )
    n = F.size(toks)
    heads = F.slice(toks, 1, F.greatest(n - 1, F.lit(0)))
    tails = F.slice(toks, 2, F.greatest(n - 1, F.lit(0)))
    bigrams = F.zip_with(heads, tails, lambda a, b: F.concat(a, F.lit(" "), b))
    grams = F.concat(toks, bigrams)
    return F.transform(grams, lambda g: _gram_bucket(g, n_buckets, salt, hasher))


def bucket_counts(
    docs: DataFrame,
    n_buckets: int = 4096,
    salt: str = "dsir",
    hasher: str = "md5",
    text_col: str = "text",
) -> DataFrame:
    """(bucket, cnt) gram-occurrence counts over a corpus — one posexplode
    plus a map-side-combinable groupBy; at most ``n_buckets`` output rows."""
    b = ngram_bucket_col(text_col, n_buckets, salt, hasher)
    return (
        docs.select(F.explode(b).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


def fit_logratios(
    target_docs: DataFrame,
    raw_docs: DataFrame,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    salt: str = "dsir",
    hasher: str = "md5",
    text_col: str = "text",
) -> list[float]:
    """Per-bucket ``round(log(p_b) - log(q_b), 6)`` with add-``alpha``
    smoothing, where p is the target corpus's hashed-gram distribution and
    q the raw corpus's. Returns a plain list indexed by bucket id — the
    collect is bounded by ``n_buckets`` rows per corpus, never corpus size.
    """

    def _counts(docs: DataFrame) -> tuple[list[int], int]:
        rows = bucket_counts(docs, n_buckets, salt, hasher, text_col).collect()
        cnt = [0] * n_buckets
        for r in rows:
            cnt[r["bucket"]] = r["cnt"]
        return cnt, sum(cnt)

    tcnt, t_total = _counts(target_docs)
    rcnt, r_total = _counts(raw_docs)
    t_denom = t_total + alpha * n_buckets
    r_denom = r_total + alpha * n_buckets
    return [
        round(
            math.log((tcnt[b] + alpha) / t_denom)
            - math.log((rcnt[b] + alpha) / r_denom),
            6,
        )
        for b in range(n_buckets)
    ]


def importance_weights(
    docs: DataFrame,
    logratios: list[float],
    salt: str = "dsir",
    hasher: str = "md5",
    text_col: str = "text",
    out_col: str = "logw",
) -> DataFrame:
    """Score every doc: ``logw`` = sum over its hashed grams of the
    bucket's fitted log ratio (multiplicity counted), rounded to 6
    decimals. The ratio table rides along as one literal double array
    (``element_at`` is 1-indexed), so the whole scoring pass is a single
    codegen projection — zero shuffle, no join, no Python."""
    lut = F.array(*[F.lit(float(v)) for v in logratios])
    buckets = ngram_bucket_col(text_col, len(logratios), salt, hasher)
    logw = F.aggregate(
        buckets,
        F.lit(0.0),
        lambda acc, b: acc + F.element_at(lut, b + 1),
    )
    return docs.withColumn(out_col, F.round(logw, 6))


def gumbel_col(id_col: str, salt: str = "g42") -> Column:
    """Deterministic standard-Gumbel noise from (id, salt): the salted-md5
    uint32 mapped to u in (0,1), then -ln(-ln(u)), rounded to 6 decimals.
    Reproducible across runs, partitionings and engines — ``rand()`` would
    resample a different subset per run."""
    from webscraping_spark.operators.sampling import _hash_bucket

    u = (_hash_bucket(F.col(id_col), salt) + 1).cast("double") / F.lit(_U32 + 1.0)
    return F.round(-F.log(-F.log(u)), 6)


def importance_resample(
    docs: DataFrame,
    logratios: list[float],
    k: int,
    id_col: str = "doc_id",
    salt: str = "g42",
    feature_salt: str = "dsir",
    hasher: str = "md5",
    text_col: str = "text",
) -> DataFrame:
    """Gumbel top-k importance resampling: score = logw + Gumbel(id, salt),
    keep the global k best (sampling k docs without replacement with
    probability proportional to exp(logw) — the Gumbel-max trick). Ties
    and cross-engine reproducibility come from the deterministic noise;
    ordering is (score DESC, id ASC). Global top-k compiles to
    TakeOrderedAndProject: per-partition heaps, no full sort."""
    if k <= 0:
        raise ValueError("k must be positive")
    scored = importance_weights(
        docs, logratios, salt=feature_salt, hasher=hasher, text_col=text_col
    )
    scored = scored.withColumn(
        "score", F.round(F.col("logw") + gumbel_col(id_col, salt), 6)
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
