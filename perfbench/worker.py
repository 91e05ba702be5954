"""One benchmark run, in the process ``run.py`` starts.

Order of a run: Spark session → workload set-up → fixed untimed
warm-up ops → the timed op sequence → (some workloads) ops after the
timed window → output checks against independent oracles → (traced run
only) per-layer probes. The last line on stdout is the result JSON; the
line before it is the run's metadata (host load, CPU steal, Spark knobs,
JVM GC/JIT). Both are also written to ``.work/runs/``.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.perf_counter()  # noqa: E402 - before the heavy imports

import argparse
import json
import os
import sys
import threading
from contextlib import contextmanager
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


# ---------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # process ended between listing and reading
        return None
    # comm may hold spaces and parens: fields start after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants (driver, JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """user+sys CPU seconds of the process tree. Each live process
    counts its own time plus that of its reaped children, so short-lived
    Python workers are counted once, through their parent."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def tree_rss_mb(root: int) -> dict[str, float]:
    """RSS in MB of each process of the tree, keyed by "pid name".

    A child the JVM has forked but not yet exec'd still maps the JVM's
    memory (its name is the forking thread's, e.g. "Executor"); it is
    counted once, by skipping a process whose address-space layout
    (vsize, start of code, start of stack) matches one already counted.
    """
    out, seen = {}, set()
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        try:
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
            with open(f"/proc/{pid}/statm") as fh:
                rss_mb = int(fh.read().split()[1]) * PAGE_MB
        except OSError:
            continue
        layout = (f[20], f[23], f[25])  # vsize startcode startstack
        if layout in seen:
            continue
        seen.add(layout)
        out[f"{pid} {name}"] = rss_mb
    return out


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


class RssSampler(threading.Thread):
    """Peak summed RSS of the process tree, sampled every 0.25 s, and
    each process's share of it at the peak."""

    def __init__(self, root: int):
        super().__init__(daemon=True)
        self.root, self.peak_mb, self.peak_procs = root, 0.0, {}
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        procs = tree_rss_mb(self.root)
        if sum(procs.values()) > self.peak_mb:
            self.peak_mb, self.peak_procs = sum(procs.values()), procs

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.sample()
            self._stop_evt.wait(0.25)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        self.sample()
        return self.peak_mb


def jvm_counters(spark) -> tuple[float, float]:
    """(GC ms, JIT compile ms) accumulated by the driver JVM so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans())
    return float(gc_ms), float(mf.getCompilationMXBean().getTotalCompilationTime())


# ---------------------------------------------------------------- tracing


class Tracer:
    """Spans around calls into the package, kept in memory and written
    when the run ends. A span records name, start, end, parent span and
    op id; a layer is the span name up to its first dot."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name]

    def self_ms_by_layer(self) -> dict[str, float]:
        """Span duration minus the part its children cover (children run
        one after another on this thread, so their durations add)."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (s["end"] - s["start"]) * 1e3
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            own = (s["end"] - s["start"]) * 1e3 - child_ms.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own
        return out


# ---------------------------------------------------------------- stats


def tail(xs: list[float]) -> float:
    """The highest order statistic with at least ten samples above it."""
    if len(xs) < 11:
        raise ValueError(f"a tail needs at least 11 samples, got {len(xs)}")
    return sorted(xs)[len(xs) - 11]


# ---------------------------------------------------------------- run


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--trace", required=True, type=int)
    return p.parse_args(argv)


def span_overhead_us() -> float:
    """What recording one span adds to a call: an enabled span's cost
    minus a disabled one's, each the median of five timed batches."""
    def batch_us(enabled: bool, n: int = 5000) -> float:
        tr = Tracer(enabled)
        t = time.perf_counter()
        for i in range(n):
            with tr.span("probe", i):
                pass
        return (time.perf_counter() - t) * 1e6 / n

    return median(batch_us(True) for _ in range(5)) - median(batch_us(False) for _ in range(5))


def main(argv: list[str]) -> int:
    args = _parse(argv)
    import workloads  # this directory is the child's cwd and sys.path[0]

    me = os.getpid()
    load_before, stat_before = os.getloadavg(), cpu_times()
    rss = RssSampler(me)
    rss.start()
    tracer = Tracer(enabled=bool(args.trace))

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t
    session_s = time.perf_counter() - T_PROCESS_START

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{me}")
    wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
    wl.setup()
    warmup, timed, post = wl.plan()
    setup_s = time.perf_counter() - T_PROCESS_START

    # warm-up is never traced; in a traced run every later op is
    tracer.enabled = False
    outputs, warmup_ms = [], []
    for op in warmup:
        t = time.perf_counter()
        outputs.append((op, wl.execute(op)))
        warmup_ms.append([op.kind, (time.perf_counter() - t) * 1e3])
    tracer.enabled = bool(args.trace)

    def run_ops(ops: list, first_id: int) -> list:
        done = []
        for i, op in enumerate(ops, first_id):
            t = time.perf_counter()
            with tracer.span(f"op.{op.kind}", i):
                out = wl.execute(op, op_id=i)
            done.append((op, (time.perf_counter() - t) * 1e3))
            outputs.append((op, out))
        return done

    gc0, jit0 = jvm_counters(spark)
    cpu0 = tree_cpu_s(me)
    t_start = time.perf_counter()
    records = run_ops(timed, 0)
    wall_s = time.perf_counter() - t_start
    cpu_s = tree_cpu_s(me) - cpu0
    gc1, jit1 = jvm_counters(spark)
    after = run_ops(post, len(records))
    tracer.enabled = False

    # every op, warm-up included, is checked in sequence order (the
    # vector oracles replay the upserts as they go)
    t = time.perf_counter()
    failed = 0
    for op, out in outputs:
        try:
            ok = wl.check(op, out)
        except Exception as exc:  # a crashed check is a failed op, not a crashed run
            print(f"check of {op} raised {exc!r}", file=sys.stderr)
            ok = False
        if not ok:
            failed += 1
            print(f"wrong output for {op}", file=sys.stderr)
    check_s = time.perf_counter() - t

    reads = [ms for op, ms in records if op.kind == "read"]
    # serve_topk has no write in its timed window: its updates run after it
    updates = [ms for op, ms in records + after if op.kind == "update"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "query_p50_ms": (median(reads), "ms"),
        "query_tail_ms": (tail(reads), "ms"),
        "update_p50_ms": (median(updates), "ms"),
        "ops_per_s": (len(records) / wall_s, "1/s"),
        "cpu_s_per_op": (cpu_s / len(records), "s"),
    }

    layer = {}
    if args.trace:
        read_ids = {i for i, (op, _) in enumerate(records) if op.kind == "read"}
        spans_per_read = sum(s["op"] in read_ids for s in tracer.spans) / len(read_ids)
        tracer.enabled = True
        layer = workloads.empty_layer_metrics()
        layer.update(wl.layer_metrics())
        layer["session.start_s"] = (session_start_s, "s")
        layer["session.gc_ms"] = (gc1 - gc0, "ms")
        layer["session.jit_ms"] = (jit1 - jit0, "ms")
        layer["trace.query_p50_ms"] = (median(reads), "ms")
        layer["trace.overhead_ms"] = (spans_per_read * span_overhead_us() / 1e3, "ms")
        layer["trace.spans"] = (len(tracer.spans), "count")
        for name, ms in tracer.self_ms_by_layer().items():
            if f"{name}.self_ms" in layer:
                layer[f"{name}.self_ms"] = (ms, "ms")

    e2e["peak_rss_mb"] = (rss.stop(), "MB")
    wl.close()
    spark.stop()

    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
        "nproc": os.cpu_count(),
        "loadavg_before": list(load_before),
        "loadavg_after": list(os.getloadavg()),
        "steal_share": steal_share(stat_before, cpu_times()),
        "gc_ms": gc1 - gc0,
        "jit_ms": jit1 - jit0,
        "session_s": session_s,
        "warmup_ms": warmup_ms,
        "timed_ops": len(records),
        "timed_wall_s": wall_s,
        "check_s": check_s,
        "peak_rss_by_process_mb": rss.peak_procs,
        "op_ms": [[op.kind, ms] for op, ms in records],
        "post_ms": [[op.kind, ms] for op, ms in after],
        "all_e2e": {k: v for k, (v, _) in e2e.items()},
    }
    chosen = layer if args.trace else e2e
    result = {
        "correct": failed == 0,
        "attempted": len(outputs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    runs = os.path.join(HERE, ".work", "runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"meta": meta, "result": result}, f, indent=1)
    if args.trace:
        with open(stem + "-spans.json", "w") as f:
            json.dump(tracer.spans, f)
    print(json.dumps({"meta": meta}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
