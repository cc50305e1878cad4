"""Benchmark command: one seeded workload, end-to-end or traced.

    python3 perfbench/run.py --workload market_stream --seed 1 --seconds 6 --trace 0

Workloads (see ``BENCHMARK.json`` for why each exists): ``market_stream``,
``market_batch`` and ``corpus_curate``. The session is ``local[nproc]``.

Output: a report line (environment, the workload's own metric names,
``failed_frac``, any mismatches), then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics. ``--trace 1`` makes a traced pass in this process
and reports the per-layer metrics; it also runs the same workload untraced
and on ``local[1]`` in child processes, and reports the tracing overhead
(traced minus untraced) and the single-core baseline.

Everything the run writes stays under ``.bench_work/`` of the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.common import (  # noqa: E402
    Result,
    RssSampler,
    adopt_orphans,
    environment,
    nproc,
    start_session,
    stop_processes,
)
from perfbench.metrics import E2E, PER_LAYER, UNITS, WORKLOAD_NAMES  # noqa: E402

WORKLOADS = ("market_stream", "market_batch", "corpus_curate")
REPORT_PREFIX = "perfbench report: "


@dataclass
class Context:
    """One pass of one workload: its inputs' seed, how long it measures,
    whether it traces, and where it may write."""

    workload: str
    seed: int
    seconds: int
    trace: bool
    cores: int
    work: Path
    res: Result
    spark: object = None
    tracer: object = None

    def session(self):
        t0 = time.time()
        self.spark = start_session(
            self.cores, self.work, self.work / "eventlog" if self.trace else None
        )
        self.res.layers["session.start_s"] = time.time() - t0
        return self.spark


def run_pass(workload: str, seed: int, seconds: int, trace: bool, cores: int) -> Result:
    from perfbench import batch, corpus, stream

    work = ROOT / ".bench_work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    res = Result()
    ctx = Context(workload, seed, seconds, trace, cores, work, res)
    module = {"market_stream": stream, "market_batch": batch, "corpus_curate": corpus}[workload]
    try:
        with RssSampler() as rss:
            module.run(ctx, res)
        res.layers["process.peak_rss_mb"] = rss.peak / 2**20
        # the event log is complete once the session has stopped
        ctx.spark.stop()
        ctx.spark = None
        if ctx.trace:
            module.trace_layers(ctx, res)
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return res


def child_pass(workload: str, seed: int, seconds: int, cores: int) -> tuple[dict, dict, dict]:
    """An untraced pass in a fresh process (its own JVM): its metrics, its
    result line and its report."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
           "--cores", str(cores)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=175)
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited with {out.returncode}")
    lines = out.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    report = json.loads(lines[-2].removeprefix(REPORT_PREFIX))
    return {k: v["value"] for k, v in last["metrics"].items()}, last, report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: " + __doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0, help="default: nproc")
    args = ap.parse_args(argv)
    try:
        import crypto_market_data_etl_spark as engine
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}", file=sys.stderr)
        return 2
    if not Path(engine.__file__).resolve().is_relative_to(ROOT):  # an installed copy
        print(f"perfbench: the engine at {engine.__file__} is not this checkout's",
              file=sys.stderr)
        return 2

    env = environment()
    cores = args.cores or nproc()
    env["master"] = f"local[{cores}]"
    res = run_pass(args.workload, args.seed, args.seconds, bool(args.trace), cores)
    children = {}
    if args.trace:
        # each comparison pass gets a fresh JVM, as the traced pass did
        plain, plain_out, plain_report = child_pass(args.workload, args.seed, args.seconds,
                                                    nproc())
        single, single_out, single_report = child_pass(args.workload, args.seed,
                                                       args.seconds, 1)
        for name, _, _ in E2E:
            res.layers[f"trace_overhead.{name}"] = res.e2e[name] - plain[name]
            res.layers[f"local1.{name}"] = single[name]
        children = {"untraced": plain_out, "local1": single_out}
        res.attempted += plain_out["attempted"] + single_out["attempted"]
        res.failed += plain_out["failed"] + single_out["failed"]
        if "curated_docs" in res.report:
            for child, rep in (("untraced", plain_report), ("local1", single_report)):
                got = rep["workload_figures"]["curated_docs"]
                res.check(got == res.report["curated_docs"],
                          f"{child} pass curated {got} docs, "
                          f"the traced one {res.report['curated_docs']}")
    if args.trace:
        # a layer the workload never calls is absent and reads 0; one it
        # calls but could not measure fails the run (and reads 0 too, since
        # the result line must hold a number)
        for n, _, _ in PER_LAYER:
            v = res.layers.setdefault(n, 0.0)
            if not math.isfinite(v):
                res.check(False, f"{n} was not measured")
                res.layers[n] = 0.0
    env["loadavg_after"] = list(os.getloadavg())
    if not all(math.isfinite(res.e2e[n]) and res.e2e[n] > 0 for n, _, _ in E2E):
        raise RuntimeError(f"an end-to-end metric was not measured: {res.e2e}")

    names = WORKLOAD_NAMES[args.workload]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "metrics": {names.get(n, n): {"value": res.e2e[n], "unit": UNITS[n]}
                    for n, _, _ in E2E},
        "workload_figures": res.report,
        "peak_rss_mb": {"value": res.layers["process.peak_rss_mb"], "unit": "MB"},
        "failed_frac": {"value": res.failed / max(1, res.attempted), "unit": "ratio"},
        "mismatches": res.mismatches,
    }
    if children:
        report["children"] = children
    # nothing this run started may outlive it
    stop_processes()
    print(REPORT_PREFIX + json.dumps(report, default=float))
    if args.trace:
        values = {n: res.layers[n] for n, _, _ in PER_LAYER}
    else:
        values = {n: res.e2e[n] for n, _, _ in E2E}
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": max(1, res.attempted),
        "failed": res.failed,
        "metrics": {n: {"value": float(v), "unit": UNITS[n]} for n, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    adopt_orphans()
    try:
        code = main()
    finally:
        stop_processes()
    sys.exit(code)
