#!/usr/bin/env python
"""r14: near_dup_pairs decomposition + a fused one-pass MinHash
signature experiment (16 array_min(transform(...)) passes vs one
F.aggregate with a 16-wide accumulator). Equality asserted first."""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import dedup as D
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.dedup import (
    MINHASH_PRIME,
    lsh_candidate_pairs,
    minhash_perms,
    minhash_signature,
    shingle_tids_hash,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 5


def minhash_signature_fused(tids_df, perms, id_col="doc_id"):
    """One aggregate pass: acc[i] = min(acc[i], (a_i*t + b_i) mod P)."""
    init = F.array(*[F.lit(MINHASH_PRIME).cast("long")] * len(perms))
    sig = F.aggregate(
        F.col("tids"),
        init,
        lambda acc, t: F.zip_with(
            acc,
            F.array(
                *[
                    F.pmod(F.lit(a) * t.cast("long") + F.lit(b), F.lit(MINHASH_PRIME))
                    for a, b in perms
                ]
            ),
            lambda x, y: F.least(x, y),
        ),
    )
    return tids_df.select(F.col(id_col), F.col("tids"), sig.alias("sig"))


def timed(label, fn, spark, reps=REPS):
    ts = []
    for _ in range(reps + 1):
        D.clear_signature_cache()
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        fn().write.mode("overwrite").format("noop").save()
        ts.append(time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    print(f"{label:45s} {statistics.median(ts[1:]):7.3f}s  reps={[round(t,2) for t in ts]}", flush=True)


def main():
    spark = get_spark("r14_minhash_probe")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    perms = minhash_perms(16)

    # equality of the fused signature (empty tids: both leave P? the
    # current form gives array_min([]) = NULL per slot; fused gives P —
    # check on real data where every doc has >= 1 shingle)
    a = sorted(tuple(r) for r in minhash_signature(shingle_tids_hash(docs), perms).collect())
    b = sorted(tuple(r) for r in minhash_signature_fused(shingle_tids_hash(docs), perms).collect())
    print("fused signature row-equal:", a == b, flush=True)

    print(f"== load={os.getloadavg()}", flush=True)
    timed("tids only (shingle+hash+distinct)", lambda: shingle_tids_hash(docs), spark)
    timed("signature (current, 16 transforms)", lambda: minhash_signature(shingle_tids_hash(docs), perms), spark)
    timed("signature (fused aggregate)", lambda: minhash_signature_fused(shingle_tids_hash(docs), perms), spark)

    def full_cand():
        sig = D._persist_signature(minhash_signature(shingle_tids_hash(docs), perms))
        return lsh_candidate_pairs(sig, n_bands=4, n_hashes=16)

    def full():
        return D.near_dup_pairs(docs, threshold=0.8)

    timed("sig + LSH candidates", full_cand, spark)
    timed("FULL near_dup_pairs", full, spark)
    spark.stop()


if __name__ == "__main__":
    main()
