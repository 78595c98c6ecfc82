"""Engine benchmark: one closed-loop client against local[<cores>].

Usage (from the repository root):

    python3 perfbench/run.py --workload media_codec --seed 1 --seconds 15 --trace 0

One run starts a SparkSession, stages the workload's seeded inputs
(several times; set-up is the session start plus the median staging),
then runs passes over the workload's request list in a seeded order.
The first pass is the cold pass of a fresh session; warm passes follow
until ``--seconds`` have been measured. Before every request the
catalog cache is cleared and leftover persisted RDDs are released, so
no pass reuses another's frames. A request is timed from the call into
the public function through its completed sink write, so eager work
run while the plan is built counts. Each distinct request's output is
checked once per run, outside the timed region; a failed or wrong
request counts in ``failed``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced warm passes (at least one of each), reads the layer
metrics of the traced ones from Spark's status stores (``tracing.py``),
and writes the spans to ``.perfbench/traces/``. The cold pass is one
sample per run, too noisy on a shared host to carry a bound, so its
time is a layer metric. The last stdout line is the JSON result; the
metric names and units come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

from tracing import RssSampler, Tracer, descendants  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "neuroimaging_data_pipeline_spark"
SETUP_REPEATS = 3
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")


def import_numpy_single_threaded():
    """Load numpy with a one-thread BLAS in this process only (for the
    numpy floor), leaving the environment Spark's workers inherit as
    it was."""
    saved = {k: os.environ.get(k) for k in BLAS_VARS}
    os.environ.update({k: "1" for k in BLAS_VARS})
    import numpy

    for k, v in saved.items():
        if v is None:
            os.environ.pop(k)
        else:
            os.environ[k] = v
    return numpy


def isolate(work: Path) -> Path:
    """Point every temp and scratch location at ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # every JVM Spark starts, the launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None
    paths = [str(ROOT), str(HERE)]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [str(ROOT), str(HERE)]
    return tmp


def start_session(workload: str, tmp: Path):
    from neuroimaging_data_pipeline_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name=f"perfbench-{workload}",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(tmp),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and its JVM, then wait for every child process."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 60
    while len(descendants()) > 1 and time.time() < deadline:
        time.sleep(0.2)


class Harness:
    """Runs requests one at a time, times them, checks each distinct
    request's output once and, on traced passes, records its layers."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = Tracer(spark) if trace else None
        self.checked: dict[str, bool] = {}
        self.attempted = 0
        self.failed = 0
        self.records: list[dict] = []

    def clear_cache(self) -> None:
        self.spark.catalog.clearCache()
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    def run_request(self, req, traced: bool) -> dict:
        self.clear_cache()
        group = self.tracer.begin(req.name) if traced else None
        rec = {"name": req.name, "kind": req.kind, "layers": {}}
        t0 = t_built = time.time()
        ok = True
        try:
            df = req.build()
            t_built = time.time()
            if traced:
                rec["layers"]["queries.build_jobs"] = self.tracer.build_jobs(group)
            req.sink(df)
        except Exception:  # noqa: BLE001 - a failing request is reported, not fatal
            traceback.print_exc()
            ok = False
        t1 = time.time()
        rec["s"] = t1 - t0
        log(f"{req.name} {rec['s']:.3f}s")
        if traced:
            layers = rec["layers"]
            layers.update(self.tracer.record(group, req.name, t0, t1))
            layers["queries.build_s"] = t_built - t0
            leaked, stored = self.tracer.cache_state()
            layers["cache.persisted_rdds_after"] = leaked
            layers["cache.stored_mb"] = stored
            self.tracer.end()
        if ok and req.name not in self.checked:
            try:
                self.checked[req.name] = bool(req.check())
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                self.checked[req.name] = False
            if not self.checked[req.name]:
                log(f"wrong output from {req.name}")
        rec["ok"] = ok and self.checked.get(req.name, False)
        self.attempted += 1
        self.failed += not rec["ok"]
        if not rec["ok"]:
            log(f"failed request {req.name}")
        self.records.append(rec)
        return rec

    def run_pass(self, requests, traced: bool) -> dict:
        recs = [self.run_request(r, traced) for r in requests]
        p = {"traced": traced, "s": sum(r["s"] for r in recs), "requests": recs}
        log(f"pass {p['s']:.3f}s traced={traced}")
        return p


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def pass_layers(p: dict) -> dict[str, float]:
    """Layer metrics of one traced pass: sums over its requests, except
    the stored-cache peak."""
    out: dict[str, float] = {}
    for r in p["requests"]:
        for k, v in r["layers"].items():
            out[k] = max(out.get(k, 0.0), v) if k == "cache.stored_mb" else out.get(k, 0.0) + v
    return out


def request_medians(passes: list[dict]) -> dict[str, float]:
    times: dict[str, list[float]] = {}
    for p in passes:
        for r in p["requests"]:
            times.setdefault(r["name"], []).append(r["s"])
    return {k: median(v) for k, v in times.items()}


def kind_sum(p: dict, kind: str) -> float:
    return sum(r["s"] for r in p["requests"] if r["kind"] == kind)


def layer_metrics(h: Harness, wl, passes, session_start_s, peak_rss_mb) -> dict:
    from workloads import CODECS, CohortGLM

    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    plain_s = median(p["s"] for p in plain)
    m: dict[str, float] = {
        "session.start_s": session_start_s,
        "session.peak_rss_mb": peak_rss_mb,
        "trace.overhead_pct": 100.0 * (median(p["s"] for p in traced) / plain_s - 1.0),
        "error_rate": h.failed / h.attempted,
        "voxels_per_s": wl.n_voxels / plain_s if isinstance(wl, CohortGLM) else 0.0,
        "encode_s": median(kind_sum(p, "encode") for p in plain),
        "decode_s": median(kind_sum(p, "decode") for p in plain),
    }
    per_pass = [pass_layers(p) for p in traced]
    for key in set().union(*per_pass):
        m[key] = median(pl.get(key, 0.0) for pl in per_pass)
    by_request = request_medians(traced)
    for codec in CODECS:
        for op in ("encode", "decode"):
            m[f"media.{codec}.{op}_s"] = by_request.get(f"{codec}.{op}", 0.0)
    floor = wl.numpy_floor_s() if isinstance(wl, CohortGLM) else 0.0
    m["ols.numpy_floor_s"] = floor
    m["ols.spark_over_floor"] = plain_s / floor if floor else 0.0
    return m


def measure(args, work: Path, tmp: Path) -> tuple[dict[str, float], int, int]:
    """One run: (metrics, requests attempted, requests failed)."""
    np = import_numpy_single_threaded()
    from workloads import WORKLOADS

    with RssSampler() if args.trace else contextlib.nullcontext() as rss:
        t = time.time()
        spark = start_session(args.workload, tmp)
        session_ready = time.time()
        try:
            wl = WORKLOADS[args.workload](spark, args.seed)
            stage_s, prev = [], None
            for i in range(SETUP_REPEATS):
                wl.dir = str(work / f"data{i}")
                t_stage = time.time()
                wl.stage()
                stage_s.append(time.time() - t_stage)
                if prev:
                    shutil.rmtree(prev)
                prev = wl.dir
            setup_s = (session_ready - T_PROCESS) + median(stage_s)
            log(f"session {session_ready - t:.2f}s, staging {stage_s}")
            wl.open()
            h = Harness(spark, bool(args.trace))
            order = np.random.default_rng([args.seed, 3])
            cold = h.run_pass(wl.requests(order), traced=False)
            warm: list[dict] = []
            t_end = time.time() + args.seconds
            while not warm or time.time() < t_end or (args.trace and len(warm) < 2):
                traced = bool(args.trace) and len(warm) % 2 == 1
                warm.append(h.run_pass(wl.requests(order), traced))
            if args.trace:
                metrics = layer_metrics(h, wl, warm, session_ready - t, rss.peak_mb)
                metrics["cold_pass_s"] = cold["s"]
                write_spans(args, h)
            else:
                metrics = {"setup_s": setup_s, "pass_s": median(p["s"] for p in warm)}
        finally:
            stop_session(spark)
    return metrics, h.attempted, h.failed


def write_spans(args, h: Harness) -> None:
    out = ROOT / ".perfbench" / "traces"
    out.mkdir(parents=True, exist_ok=True)
    doc = {
        "workload": args.workload, "seed": args.seed,
        "spans": h.tracer.spans, "requests": h.records,
    }
    (out / f"{args.workload}-seed{args.seed}.json").write_text(json.dumps(doc))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    if not (ROOT / PACKAGE).is_dir():
        print(f"perfbench: no {PACKAGE}/ under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    tmp = isolate(work)
    try:
        metrics, attempted, failed = measure(args, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
