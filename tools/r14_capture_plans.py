"""Round-14 optimization round: capture `.explain("formatted")` for every
declared query plus the bench headline/scale extras into
``plans/r14/<name>_{before,after}.txt`` and a triage summary JSON
(exchange counts, python stages, join nodes) the optimization pass works
from. Usage::

    python tools/r14_capture_plans.py before [name ...]
    python tools/r14_capture_plans.py after  [name ...]
"""

from __future__ import annotations

import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark import contract  # noqa: E402
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (  # noqa: E402
    physical_plan,
    plan_summary,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r14")

#: bench extras examined alongside the 50 declared slots (HEADLINE +
#: SCALE_QUERIES names that are not driver slots)
BENCH_EXTRAS = [
    "sq_topk",
    "lm_doc_scores",
    "sparse_topk",
    "budget_select",
    "dup_span_stats",
    "dsir_weights",
    "product_profit",
    "lexical_diversity",
    "daily_anomaly",
    "grep_corpus",
    "similar_series",
    "rp_knn_join",
    "remove_dup_spans",
    "mixture_pipeline",
    "mmr_knn_join",
    "kmeans_assign",
]


def main() -> int:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark("r14_capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = contract.queries()
    extras = contract.extra_queries()
    names = list(qs) + [n for n in BENCH_EXTRAS if n in extras]
    fns = {**extras, **qs}
    summaries: dict[str, dict] = {}
    for n in names:
        if only and n not in only:
            continue
        try:
            df = fns[n](spark, SF_DIR)
            plan = physical_plan(df)
            with open(os.path.join(OUT, f"{n}_{suffix}.txt"), "w") as f:
                f.write(plan)
            s = plan_summary(df)
            s.pop("pushed_filters", None)
            summaries[n] = s
            print(
                f"{n}: scans={s['n_scans']} exchanges={s['n_exchanges']} "
                f"python={s['n_python_stages']} joins={s['joins']}",
                flush=True,
            )
        except Exception:
            print(f"{n}: FAILED", flush=True)
            traceback.print_exc()
    with open(os.path.join(OUT, f"_summary_{suffix}.json"), "w") as f:
        json.dump(summaries, f, indent=1, sort_keys=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
