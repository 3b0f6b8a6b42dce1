"""Saturation probes for the engine's fixed-width scale devices
(round-8 directive: every hard-coded capacity constant needs either a
derivation from data size / SizingProfile or a MEASURED saturation
point — the mm_phash lesson, generalized).

Covered here (the two devices whose constants are pinned by the shared
Spark/DuckDB oracle text and therefore cannot silently self-derive):

1. ``dedup_bloom_incremental``'s 2^20-bit / k=4 Bloom filter — the
   probe positions are md5-hex slices, so the EXACT filter behavior is
   reproducible driver-side with hashlib: measure fill ratio and
   false-positive rate at sf0.1 / saturation-point / sf1 / sf10
   -equivalent corpus sizes.
2. ``dedup_minhash_lsh``'s band geometry (b=6, r=2 over bottom-12
   md5 digests) — measure the max band-bucket population growth on
   the real corpus across SFs (the phash failure mode was hot buckets
   from too-narrow band keys; minhash band keys are 128-bit md5 of
   two 128-bit digests, so random collisions are ~2^-256 and bucket
   growth can only come from true near-dups).

The ordinal histogram width and the LPA single-task gate are DERIVED
at runtime (operators/ordinal.default_n_buckets, curation._shuffle_hex_chars,
graph._lpa_coarse_gate) and need no measured row.

Outputs one JSON line; the numbers are recorded in SCALE.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

# In place of the script's own directory, whose profile.py would shadow
# the standard library module pyspark imports.
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bloom_probe(
    n_corpus: int, n_batch: int = 50_000, hex_width: int | None = None
) -> dict:
    """Exact simulation of the operator's filter: m = 16^w bits, k=4,
    positions = w-hex-digit slices of md5 (w defaults to what the
    sizing rule _bloom_hex_width picks for n_corpus — pass 5 to replay
    the historical fixed-width floor). Corpus keys are disjoint from
    batch keys, so every batch hit is a false positive."""
    from udacity_data_engineer_capstone_spark.operators.dedup import (
        _bloom_hex_width,
    )

    w = hex_width if hex_width is not None else _bloom_hex_width(n_corpus)
    m_bits = 16 ** w
    words = [0] * (m_bits >> 5)
    for i in range(n_corpus):
        h = hashlib.md5(f"corpus:{i}".encode()).hexdigest()
        for j in range(4):
            pos = int(h[8 * j : 8 * j + w], 16)
            words[pos >> 5] |= 1 << (pos & 31)
    fill = sum(bin(x).count("1") for x in words) / m_bits
    fp = 0
    for i in range(n_batch):
        h = hashlib.md5(f"novel:{i}".encode()).hexdigest()
        if all(
            (words[(p := int(h[8 * j : 8 * j + w], 16)) >> 5] >> (p & 31)) & 1
            for j in range(4)
        ):
            fp += 1
    return {
        "n_corpus": n_corpus,
        "hex_width": w,
        "fill_ratio": round(fill, 6),
        "fp_rate": round(fp / n_batch, 5),
    }


def minhash_bucket_probe(spark, sf_dir: str) -> dict:
    """Max/percentile band-bucket population of the actual LSH bands
    on the documents table — hot buckets are the saturation mode."""
    from pyspark.sql import functions as F

    from udacity_data_engineer_capstone_spark.operators.dedup import (
        N_BANDS,
        _band_exprs_spark,
        _SHINGLES_SPARK,
        _SIG_SPARK,
        corpus,
    )

    docs = corpus(spark, sf_dir)
    sigs = (
        docs.selectExpr(
            "doc_id", r"split(lower(text), '\\s+') AS toks"
        )
        .selectExpr("doc_id", f"{_SHINGLES_SPARK} AS shingles")
        .selectExpr("doc_id", f"{_SIG_SPARK} AS sig")
        .selectExpr("doc_id", *_band_exprs_spark())
    )
    pairs = sigs.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("key"))
                for b in range(N_BANDS)
            ])
        ).alias("bk")
    ).select("bk.band_id", "bk.key").where(F.col("key").isNotNull())
    sizes = pairs.groupBy("band_id", "key").count()
    row = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("count").alias("max_bucket"),
        F.expr("percentile_approx(count, 0.999)").alias("p999"),
    ).first()
    return {
        "sf_dir": sf_dir,
        "n_buckets": row["n_buckets"],
        "max_bucket": int(row["max_bucket"]),
        "p999_bucket": int(row["p999"]),
    }


if __name__ == "__main__":
    argparse.ArgumentParser(description=__doc__.split("\n\n")[0]).parse_args()
    out = {
        "bloom": [
            bloom_probe(60_000, hex_width=5),  # sf0.1-equiv, 5-hex floor
            bloom_probe(262_144, hex_width=5),  # 5-hex kn/m = 1 knee
            bloom_probe(600_000, hex_width=5),  # sf1-equiv under the OLD pin
            bloom_probe(600_000),  # sf1-equiv under the DERIVED width (6)
            bloom_probe(2_000_000),  # sf3+-equiv under the derived width (7)
        ]
    }
    try:
        from udacity_data_engineer_capstone_spark.session import get_spark

        spark = get_spark("saturation-probe")
        spark.sparkContext.setLogLevel("ERROR")
        out["minhash_buckets"] = [
            minhash_bucket_probe(spark, "/root/testdata/sf0.01"),
            minhash_bucket_probe(spark, "/root/testdata/sf0.1"),
        ]
    except Exception as e:  # Spark part optional (pure probe still runs)
        out["minhash_buckets_error"] = repr(e)[:200]
    print(json.dumps(out))
