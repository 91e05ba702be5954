#!/usr/bin/env python
"""Interleaved A/B: old vs r14 shapes for dup_span_stats,
remove_dup_spans (join-elision rewrites) and q_budget_select (narrow
prefix shuffle). Equality asserted before timing."""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark import contract
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions import text as TX
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
    dedup as D,
    sampling,
    textstats as T,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.dedup import (
    _persist_signature,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.partitioning import (
    fan_out,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.session import get_spark
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.sources.catalog import (
    load_tables,
)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 5
N = 5  # DUP_SPAN_N


def old_dup_span_stats(docs, n=N, id_col="doc_id", text_col="text"):
    sh = fan_out(docs).select(
        F.col(id_col), TX.tokens(F.col(text_col)).alias("__toks")
    ).select(F.col(id_col), F.explode(TX.shingles(F.col("__toks"), n=n)).alias("s"))
    occ = _persist_signature(
        sh.select(id_col, F.xxhash64(F.col("s")).alias("h"))
        .groupBy(id_col, "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    shared = occ.groupBy("h").agg(F.count(F.lit(1)).alias("doc_freq")).filter(
        F.col("doc_freq") >= 2
    )
    per_doc_shared = (
        occ.join(shared.select("h"), "h")
        .groupBy(id_col)
        .agg(F.sum("cnt").alias("n_shared_spans"))
    )
    totals = occ.groupBy(id_col).agg(F.sum("cnt").alias("n_spans"))
    return (
        totals.join(per_doc_shared, id_col, "left")
        .select(
            id_col,
            "n_spans",
            F.coalesce(F.col("n_shared_spans"), F.lit(0)).alias("n_shared_spans"),
        )
        .withColumn(
            "dup_span_frac",
            F.col("n_shared_spans") / F.col("n_spans").cast("double"),
        )
    )


def old_remove_dup_spans(docs, n=N, id_col="doc_id", text_col="text"):
    base = _persist_signature(
        fan_out(docs).select(
            F.col(id_col), TX.tokens(F.col(text_col)).alias("__toks")
        )
    )
    sh = base.select(
        F.col(id_col),
        F.posexplode(TX.shingles(F.col("__toks"), n=n)).alias("__p0", "__s"),
    )
    occ = sh.select(
        F.col(id_col), (F.col("__p0") + 1).alias("pos"), F.xxhash64("__s").alias("h")
    )
    firsts = occ.groupBy("h").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias("f")
    )
    keeps = (
        occ.join(firsts, "h")
        .filter((F.col(id_col) == F.col("f.d")) & (F.col("pos") == F.col("f.p")))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("__keeps"))
    )
    joined = base.join(keeps, id_col, "left")
    m = F.size("__toks")
    starts = F.coalesce(F.col("__keeps"), F.array().cast("array<int>"))
    kept = F.array_sort(
        F.array_distinct(
            F.flatten(F.transform(starts, lambda p: F.sequence(p, F.least(p + n - 1, m))))
        )
    )
    stage = joined.select(
        F.col(id_col), F.col("__toks"), m.cast("long").alias("n_tokens"), kept.alias("__kept")
    )
    toks = F.col("__toks")
    return stage.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.size("__kept").cast("long").alias("n_kept"),
        F.concat_ws(
            " ", F.transform(F.col("__kept"), lambda j: F.element_at(toks, j))
        ).alias("text_clean"),
    )


def old_budget_select(docs):
    q = T.quality_score(docs).select("doc_id", "quality")
    res = sampling.budget_select(
        docs.join(q, "doc_id"), contract.BUDGET_TOKENS, order_col="quality"
    )
    return res.select("doc_id", "quality", "n_tokens", "cum_tokens")


def new_budget_select(docs):
    narrow = docs.select(
        "doc_id", "text", TX.tokens(F.col("text")).alias("__toks")
    ).select(
        "doc_id",
        *T.quality_columns("text", toks_col="__toks"),
        TX.n_tokens(F.col("text")).alias("__wc"),
    ).select("doc_id", "quality", "__wc")
    res = sampling.budget_select(
        narrow, contract.BUDGET_TOKENS, order_col="quality", token_count="__wc"
    )
    return res.select("doc_id", "quality", "n_tokens", "cum_tokens")


def main():
    spark = get_spark("r14_ab_spans")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_tables(spark, SF_DIR)["documents"]

    pairs = {
        "dup_span_stats": (
            lambda: old_dup_span_stats(docs),
            lambda: D.dup_span_stats(docs, n=N),
        ),
        "remove_dup_spans": (
            lambda: old_remove_dup_spans(docs),
            lambda: D.remove_dup_spans(docs, n=N),
        ),
        "budget_select": (
            lambda: old_budget_select(docs),
            lambda: new_budget_select(docs),
        ),
    }
    for name, (old, new) in pairs.items():
        D.clear_signature_cache()
        a = {tuple(r) for r in old().collect()}
        D.clear_signature_cache()
        b = {tuple(r) for r in new().collect()}
        assert a == b, f"{name}: outputs differ ({len(a)} vs {len(b)}; {list(a ^ b)[:3]})"
        print(f"{name}: row-equal ({len(a)} rows)", flush=True)

    for name, (old, new) in pairs.items():
        ts = {"old": [], "new": []}
        for _ in range(REPS):
            for tag, fn in (("old", old), ("new", new)):
                D.clear_signature_cache()
                t0 = time.perf_counter()
                fn().write.mode("overwrite").format("noop").save()
                ts[tag].append(time.perf_counter() - t0)
        o, nw = statistics.median(ts["old"]), statistics.median(ts["new"])
        print(
            f"{name}: old {o:.3f}s -> new {nw:.3f}s  "
            f"old_reps={[round(t,2) for t in ts['old']]} new_reps={[round(t,2) for t in ts['new']]}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
