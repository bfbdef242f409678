"""Benchmark entry point.

    python3 perfbench/run.py --workload meter_etl --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, Spark ``local[4]``, a closed
loop with one client: the next operation starts when the previous one has
finished. A run

1. generates the workload's inputs from ``--seed`` three times (the median
   counts) and starts the session: ``setup_s``;
2. runs one batch operation in the fresh session: ``batch_s``, what a
   scheduled batch job pays, JIT warm-up included;
3. runs serving reads against the batch's output for ``--seconds`` (at
   least the workload's minimum count): ``serve_ms.p50``/``.p90``;
4. runs the workload's fixture check (untimed), checks every output and
   prints two lines on stdout: a diagnostics record (input properties,
   checks, host-speed sentinel, error rate), then the result object, with
   the end-to-end metrics under ``--trace 0`` and the per-layer span
   metrics under ``--trace 1``.

A traced run enables the Spark event log and runs its first batch traced
(every layer call in a span with its own job group and a materializing
seam), then one untraced batch whose output digest must match. Each span
field is the median, over the operations that called the span, of the
span's per-operation total.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

CORES = 4
GEN_REPEATS = 3

SPANS = {
    "meter_etl": [
        "rdl.load_dim", "rdl.load_readings", "rdl.compute_rdl", "rdl.export_wide",
        "csv_sink.write_csv", "widetable.put", "widetable.scan", "widetable.get",
    ],
    "curation_ann": [
        "curation.curate_docs", "dedup.minhash_bucket_pairs", "graph.connected_components",
        "chunking.chunk_words", "tokenizer.bpe_encode", "packing.pack_sequences",
        "similarity.freeze_ivf_pq", "similarity.ann_index_ingest_batch",
        "similarity.compact_ivf_pq", "similarity.ivf_pq_topk_frozen",
    ],
}
SPAN_FIELDS = [
    ("s", "s"), ("jobs", "count"), ("cpu_ms", "ms"), ("idle_share", "ratio"),
    ("shuffle_bytes", "B"), ("spill_bytes", "B"),
]
PYTHON_SPANS = {
    "tokenizer.bpe_encode", "similarity.freeze_ivf_pq",
    "similarity.ann_index_ingest_batch", "similarity.ivf_pq_topk_frozen",
}
KEPT_SPANS = {"rdl.load_readings", "curation.curate_docs"}
# a read whose recall falls under this floor counts as a failed operation;
# a probe returning arbitrary ids scores about 10 / 11,500
RECALL_FLOOR = 0.05


def per_layer_names() -> list[tuple[str, str]]:
    out = []
    for spans in SPANS.values():
        for span in spans:
            out += [(f"{span}.{f}", unit) for f, unit in SPAN_FIELDS]
            if span in PYTHON_SPANS:
                out.append((f"{span}.python_ms", "ms"))
            if span in KEPT_SPANS:
                out.append((f"{span}.kept_share", "ratio"))
    out.append(("trace.batch_s", "s"))
    return out


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ---------------------------------------------------------------------------
# resident memory of this process tree, read from /proc
# ---------------------------------------------------------------------------


def _tree_rss_mb(root: int) -> float:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class RssSampler:
    """Samples the process tree's resident memory every ``interval_s``
    until stopped."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append(_tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# session helpers
# ---------------------------------------------------------------------------


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait for
    it: the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def host_sentinel_s(spark) -> float:
    """Fixed-cost, I/O-free JVM job: bench.py's sentinel at 4 partitions."""
    t0 = time.perf_counter()
    spark.range(0, 2_000_000, 1, CORES).selectExpr(
        "sum(id * 2654435761 % 1000003) AS s"
    ).write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


CALIBRATION_GROUPS = ("calibrate.python.0ms", "calibrate.python.200ms")


CALIBRATION_SLEPT_MS = 16 * 200


def calibrate_python(spark) -> None:
    """Run the same pandas UDF twice, once sleeping 0 ms and once 200 ms per
    Arrow batch (16 batches), each in its own job group. The difference in
    the parser's ``python_ms`` between the two groups should be the 3,200
    slept ms; what both share is the workers' per-task cost."""
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    sc = spark.sparkContext
    try:
        # the first pass starts the Python workers and is not measured
        for group, sleep_s in zip((None, *CALIBRATION_GROUPS), (0.0, 0.0, 0.2)):
            def sleepy(batches, sleep_s=sleep_s):
                import time as _t

                for pdf in batches:
                    _t.sleep(sleep_s)
                    yield pdf

            if group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(group, "sleep UDF")
            spark.range(0, 1600, 1, CORES).mapInPandas(sleepy, "id long").write.mode(
                "overwrite"
            ).format("noop").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def python_ms_slope(groups) -> float:
    """Measured ``python_ms`` per slept millisecond (1.0 when calibrated)."""
    from spans import GroupMetrics

    base, slept = (groups.get(g, GroupMetrics()).python_ms for g in CALIBRATION_GROUPS)
    return (slept - base) / CALIBRATION_SLEPT_MS


def span_metrics(calls, groups, n_cores: int) -> dict[str, float]:
    """Median over operations of each span's per-operation totals."""
    from spans import GroupMetrics

    keys = ("s", "jobs", "cpu_ms", "run_ms", "shuffle_bytes", "spill_bytes",
            "python_ms", "rows_in", "rows_out")
    per_op: dict[str, dict[int, dict[str, float]]] = {}
    for call in calls:
        g = groups.get(call.group, GroupMetrics())
        acc = per_op.setdefault(call.name, {}).setdefault(call.op, dict.fromkeys(keys, 0.0))
        acc["s"] += call.wall_s
        acc["jobs"] += g.jobs
        acc["cpu_ms"] += g.cpu_ms
        acc["run_ms"] += g.run_ms
        acc["shuffle_bytes"] += g.shuffle_bytes
        acc["spill_bytes"] += g.spill_bytes
        acc["python_ms"] += g.python_ms
        acc["rows_in"] += call.rows_in or 0
        acc["rows_out"] += call.rows_out or 0
    out: dict[str, float] = {}
    for name, ops in per_op.items():
        vals = list(ops.values())
        for field in ("s", "jobs", "cpu_ms", "shuffle_bytes", "spill_bytes", "python_ms"):
            out[f"{name}.{field}"] = statistics.median(v[field] for v in vals)
        out[f"{name}.idle_share"] = statistics.median(
            1 - v["run_ms"] / 1000 / (v["s"] * n_cores) if v["s"] > 0 else 0.0 for v in vals
        )
        if name in KEPT_SPANS:
            out[f"{name}.kept_share"] = statistics.median(
                v["rows_out"] / v["rows_in"] if v["rows_in"] else 0.0 for v in vals
            )
    return out


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, args, out_fh):
        from workloads import WORKLOADS

        self.args = args
        self.out_fh = out_fh
        self.work = os.path.join(os.getcwd(), ".perfbench", f"{args.workload}-{os.getpid()}")
        self.wl = WORKLOADS[args.workload](os.path.join(self.work, "w"), args.seed)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.diag: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - counted and reported
            self.fail(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")
            return None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    def start_session(self):
        from learn_hbase_spark.session import get_session

        local = os.path.join(self.work, "local")
        conf = {
            "spark.driver.memory": "3g",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
            "spark.default.parallelism": str(CORES),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.args.trace:
            from spans import eventlog_conf

            self.log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.log_dir, exist_ok=True)
            conf.update(eventlog_conf(self.log_dir))
        spark = get_session(
            f"perfbench-{self.args.workload}", master=f"local[{CORES}]",
            shuffle_partitions=CORES, extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> float:
        gen_s = []
        for _ in range(GEN_REPEATS):
            shutil.rmtree(self.wl.inp, ignore_errors=True)
            t0 = time.perf_counter()
            self.diag["inputs"] = self.wl.generate()
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.spark = self.start_session()
        self.wl.open(self.spark)
        session_s = time.perf_counter() - t0
        self.diag["setup"] = {"generate_s": [round(x, 4) for x in gen_s], "session_s": round(session_s, 4)}
        return statistics.median(gen_s) + session_s

    def batch(self, tr) -> tuple[float, str | None]:
        t0 = time.perf_counter()
        digest = self.attempt("batch", lambda: self.wl.batch(tr))
        elapsed = time.perf_counter() - t0
        if digest is not None:
            recall = getattr(self.wl, "batch_recall", 1.0)
            self.check(recall >= RECALL_FLOOR, f"batch probe recall {recall:.3f} < {RECALL_FLOOR}")
        return elapsed, digest

    def serving(self, tr) -> tuple[list[float], list[float]]:
        self.attempt("prepare serving", self.wl.prepare_serving)
        latency_ms: list[float] = []
        recall: list[float] = []
        t_start = time.perf_counter()
        i = 0
        while i < self.wl.min_serves or time.perf_counter() - t_start < self.args.seconds:
            tr.op = 1 + i  # op 0 is the batch
            t0 = time.perf_counter()
            r = self.attempt("serving read", lambda: self.wl.serve(tr, i))
            elapsed = time.perf_counter() - t0
            i += 1
            if r is not None:
                latency_ms.append(elapsed * 1000)
                recall.append(r)
                self.check(r >= RECALL_FLOOR, f"serving read {i} recall {r:.3f} < {RECALL_FLOOR}")
            elif i >= 3 * self.wl.min_serves and not latency_ms:
                break
        return latency_ms, recall

    def execute(self) -> dict:
        try:
            return self._execute()
        finally:
            if self.spark is not None:
                stop_spark(self.spark)

    def _execute(self) -> dict:
        from spans import Tracer

        setup_s = self.setup()
        sentinel = [host_sentinel_s(self.spark)]
        tr = Tracer(self.spark, bool(self.args.trace))
        with RssSampler() as rss:
            batch_s, digest = self.batch(tr)
            if self.args.trace:
                # the untraced batch must give the traced batch's output
                _, plain = self.batch(Tracer(self.spark, False))
                self.check(
                    digest is not None and digest == plain,
                    f"traced digest {digest} != untraced digest {plain}",
                )
            latency_ms, recall = self.serving(tr)
        for err in self.attempt("fixture check", self.wl.fixture_check) or []:
            self.fail(err)
        sentinel.append(host_sentinel_s(self.spark))
        self.diag["host_sentinel_s"] = [round(x, 4) for x in sentinel]
        self.diag["digest"] = digest
        self.diag["serves"] = len(latency_ms)
        self.diag["peak_rss_mb"] = round(max(rss.samples), 1)
        if digest is None or not latency_ms:
            raise RuntimeError(f"no successful batch or serving read: {self.failures}")
        if not self.args.trace:
            return {
                "batch_s": (batch_s, "s"),
                "serve_ms.p50": (quantile(latency_ms, 0.5), "ms"),
                "serve_ms.p90": (quantile(latency_ms, 0.9), "ms"),
                "serve_recall": (statistics.fmean(recall), "ratio"),
                "setup_s": (setup_s, "s"),
                "mean_rss_mb": (statistics.fmean(rss.samples), "MB"),
            }
        calibrate_python(self.spark)
        self.diag["inputs"].update(self.attempt("describe inputs", self.wl.describe) or {})
        stop_spark(self.spark)
        self.spark = None
        return self.trace_metrics(tr, batch_s)

    def trace_metrics(self, tr, batch_s: float) -> dict:
        from spans import find_event_log, parse_event_log

        groups = parse_event_log(find_event_log(self.log_dir))
        self.diag["python_ms_per_slept_ms"] = round(python_ms_slope(groups), 4)
        rows_in = {
            "rdl.load_readings": self.diag["inputs"].get("reading_rows"),
            "curation.curate_docs": self.diag["inputs"].get("doc_rows"),
        }
        for call in tr.calls:
            call.rows_in = rows_in.get(call.name)
        values = span_metrics(tr.calls, groups, CORES)
        values["trace.batch_s"] = batch_s
        return {name: (values.get(name, 0.0), unit) for name, unit in per_layer_names()}

    def result(self, metrics: dict) -> None:
        self.diag["error_rate"] = {"value": self.failed / max(self.attempted, 1), "unit": "ratio"}
        self.diag["failures"] = self.failures
        print(json.dumps(self.diag, default=str), file=self.out_fh)
        print(json.dumps({
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }), file=self.out_fh)
        self.out_fh.flush()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The JVM inherits fd 1 and can print to it; keep the real stdout for
    # the result lines only (bench.py does the same).
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = os.fdopen(os.dup(2), "w")

    run = Run(args, real_stdout)
    local = os.path.join(run.work, "local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    try:
        run.result(run.execute())
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    try:
        import learn_hbase_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        raise SystemExit(2)
    raise SystemExit(main())
