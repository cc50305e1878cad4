"""Tests of the benchmark's own pieces (no Spark session needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import json
import math
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import metrics
from perfbench.common import quantile
from perfbench.stream import commit_log, event_latencies
from perfbench.trace import JobCounters, Span, call_layers, task_skew

ROOT = Path(__file__).resolve().parents[2]
GEN = ROOT / "perfbench" / "gen.py"

SMALL = {
    "stream": ["--rate", "200", "--warmup-s", "0.5", "--backlog-s", "1",
               "--live-s", "1"],
    "batch": ["--trades", "400", "--codes", "6", "--session-s", "120"],
    "corpus": ["--docs", "300", "--bench", "20"],
}


def _digest(root: Path) -> dict[str, str]:
    out = {}
    for p in sorted(root.rglob("*")):
        if not p.is_file():
            continue
        data = p.read_bytes()
        if p.name == "schedule.json":
            # when each live file was actually written is the clock's, not
            # the seed's
            data = json.dumps([{k: v for k, v in f.items() if k != "written"}
                               for f in json.loads(data)]).encode()
        out[str(p.relative_to(root))] = hashlib.sha256(data).hexdigest()
    return out


def _generate(kind: str, seed: int, out: Path) -> dict[str, str]:
    if kind == "stream":
        # the benchmark's signals, given up front: stage the backlog at once,
        # and a live start in the past, so every live file is due at once
        out.mkdir(parents=True)
        (out / "stage_backlog").write_text("1")
        (out / "go").write_text("1000.0")
    subprocess.run([sys.executable, str(GEN), kind, "--seed", str(seed), "--out",
                    str(out), *SMALL[kind]], check=True, timeout=120)
    return _digest(out)


@pytest.mark.parametrize("kind", sorted(SMALL))
def test_same_seed_gives_byte_identical_inputs(tmp_path, kind):
    a = _generate(kind, 7, tmp_path / "a")
    b = _generate(kind, 7, tmp_path / "b")
    c = _generate(kind, 8, tmp_path / "c")
    assert a and a == b
    assert a != c
    if kind == "stream":
        # every file came out of the real handshake: the backlog was made
        # visible and the live files were written
        assert not any(Path(n).name.startswith(".") for n in a)
        assert {"schedule.json", "backlog_staged"} <= {Path(n).name for n in a}
        assert any(Path(n).name.startswith("live-") for n in a)


def _write_checkpoint(ckpt: Path, source_log: dict[str, list[tuple[str, int]]],
                      batch_ends: dict[int, int]) -> None:
    src = ckpt / "sources" / "0"
    src.mkdir(parents=True)
    for name, entries in source_log.items():
        lines = ["v1"] + [json.dumps({"path": f"file:///in/{f}", "timestamp": 0,
                                      "batchId": o}) for f, o in entries]
        (src / name).write_text("\n".join(lines) + "\n")
    off = ckpt / "offsets"
    off.mkdir()
    for bid, end in batch_ends.items():
        meta = json.dumps({"batchWatermarkMs": 0, "batchTimestampMs": 0, "conf": {}})
        (off / str(bid)).write_text(f"v1\n{meta}\n{json.dumps({'logOffset': end})}\n")


def test_latency_from_synthetic_commit_log(tmp_path):
    # source offsets 0..2 (offset 1 only in the compacted log); query batch 1
    # read no new files (a no-data batch), so batch ids run ahead of offsets
    _write_checkpoint(
        tmp_path,
        {"0": [("warm.parquet", 0)],
         "1.compact": [("warm.parquet", 0), ("a.parquet", 1), ("b.parquet", 1)],
         "2": [("c.parquet", 2)]},
        {0: 0, 1: 0, 2: 1, 3: 2},
    )
    batches = commit_log(tmp_path)
    assert batches == {0: ["warm.parquet"], 1: [], 2: ["a.parquet", "b.parquet"],
                       3: ["c.parquet"]}
    returned = {0: 5.0, 1: 9.0, 2: 11.0, 3: 12.5}
    due = {"a.parquet": 10.0, "b.parquet": 10.5, "c.parquet": 12.0}
    lat, w = event_latencies(batches, returned, due,
                             {"a.parquet": 3, "b.parquet": 1, "c.parquet": 4})
    assert sorted(zip(lat, w)) == [(500.0, 1), (500.0, 4), (1000.0, 3)]
    # per-event weights: 5 of 8 events at 500 ms, 3 at 1000 ms
    assert quantile(lat, 0.5, w) == 500.0
    assert quantile(lat, 0.9, w) == 1000.0


def test_span_self_time_subtracts_input_execution_and_children():
    read = Span("read", "s0", construct_s=0.5, cum_s=2.0)       # exec 1.5
    parse = Span("parse", "s1", construct_s=0.1, cum_s=3.0, inputs=[read])
    assert parse.self_s == pytest.approx(1.5)
    inner = Span("inner", "s3", construct_s=0.2, cum_s=1.0)
    outer = Span("outer", "s2", construct_s=2.0, cum_s=4.0, inputs=[parse],
                 children=[inner])
    assert outer.self_s == pytest.approx(4.0 - 1.0 - 2.9)


def test_call_layers_sums_a_round_then_takes_the_median():
    spans = [
        (0, Span("op", "a", 0.1, 1.0)), (0, Span("op", "b", 0.1, 2.0)),
        (1, Span("op", "c", 0.2, 4.0)), (2, Span("op", "d", 0.3, 5.0)),
    ]
    counters = {"a": JobCounters(cpu_ms=10.0, shuffle_bytes=1.0),
                "c": JobCounters(cpu_ms=30.0, spill_bytes=2.0)}
    out = call_layers(spans, counters, ["op", "absent"])
    assert out["op.self_s"] == pytest.approx(4.0)
    assert out["op.construct_ms"] == pytest.approx(200.0)
    assert out["op.cpu_ms"] == pytest.approx(10.0)
    assert math.isnan(out["absent.self_s"])


def test_task_skew_reads_the_heaviest_stage_the_inputs_did_not_run():
    scan = (4, ("Exchange", "Scan parquet", "WholeStageCodegen"))
    window = (4, ("Window",))
    bars = JobCounters()
    bars.stage_tasks[1] = [50.0, 50.0, 50.0, 500.0]
    bars.stage_sig[1] = scan
    asof = JobCounters()
    # stage 7 recomputes the input's scan: heaviest, but not the span's own
    asof.stage_tasks[7] = [60.0, 60.0, 60.0, 600.0]
    asof.stage_sig[7] = scan
    asof.stage_tasks[8] = [100.0, 100.0, 100.0, 400.0]
    asof.stage_sig[8] = window
    asof.stage_tasks[9] = [10.0, 10.0, 10.0, 10.0]
    asof.stage_sig[9] = (4, ("Project",))
    assert task_skew(asof, [bars]) == pytest.approx(4.0)
    assert task_skew(asof, []) == pytest.approx(10.0)
    one = JobCounters()
    one.stage_tasks[3] = [70.0]
    assert task_skew(one, []) == 1.0
    assert math.isnan(task_skew(JobCounters(), []))


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == [
        (n, u, b) for n, u, b in metrics.E2E]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (n, u, b) for n, u, b in metrics.PER_LAYER]
    assert [w["name"] for w in spec["workloads"]] == list(metrics.WORKLOAD_NAMES)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
    assert len(metrics.PER_LAYER) <= 128
    assert len({n for n, _, _ in metrics.E2E + metrics.PER_LAYER}) == len(
        metrics.E2E + metrics.PER_LAYER)


def test_every_per_layer_metric_names_what_it_should_move():
    for name, _, _ in metrics.PER_LAYER:
        assert any(name.startswith(p) for p in metrics.MOVES), name


def _running(pid: int) -> bool:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(") ", 1)[1][0] != "Z"
    except (OSError, IndexError):
        return False


#: a benchmark process in small: it starts a child, which starts a
#: grandchild, both meant to outlive it; it stops them and prints their pids
_TREE = """
import json, subprocess, sys, time
sys.path.insert(0, sys.argv[1])
from perfbench.common import _descendants, adopt_orphans, stop_processes
adopt_orphans()
child = subprocess.Popen([sys.executable, "-c",
                          "import subprocess, time; subprocess.Popen(['sleep', '60']); "
                          "time.sleep(60)"])
for _ in range(200):
    if len(_descendants(child.pid)) == 1:
        break
    time.sleep(0.05)
tree = [child.pid, *_descendants(child.pid)]
child.kill()  # the grandchild is orphaned: it must still be found
child.wait()
stop_processes(grace=5)
print(json.dumps(tree))
"""


def test_stop_processes_ends_the_whole_tree():
    out = subprocess.run([sys.executable, "-c", _TREE, str(ROOT)], check=True,
                         stdout=subprocess.PIPE, text=True, timeout=60)
    tree = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(tree) == 2
    assert not [p for p in tree if _running(p)]
