"""Tests for the benchmark harness itself (no Spark session needed)."""

from __future__ import annotations

import json
import math
import shutil
from pathlib import Path

import numpy as np
import pytest

import inputs
import reference
import run
import tracing
import workloads

DATA = Path(__file__).resolve().parent / "data"
REPO = Path(__file__).resolve().parents[2]


@pytest.mark.parametrize(
    "write",
    [
        lambda out, seed: inputs.write_expression(out, 30, 20, seed),
        lambda out, seed: inputs.write_corpus(out, 300, seed),
    ],
    ids=["expression", "corpus"],
)
def test_seed_fixes_the_input_digest(tmp_path, write):
    digests = {}
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        out = tmp_path / name
        out.mkdir()
        digests[name] = inputs.digest(write(out, seed))
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


def test_corpus_plants_every_document_kind():
    docs = inputs.corpus(2000, 3)
    texts = docs["text"]
    assert len(set(docs["source"])) == inputs.N_SOURCES
    assert len(texts) - len(set(texts)) > 50  # exact duplicates
    assert sum("@example.com" in t for t in texts) > 50  # PII variants
    assert any(len(max(t.split(), key=len)) >= 14 for t in texts)  # junk tokens


def test_numpy_reference_on_a_hand_computed_matrix():
    # g0 is zero everywhere and is dropped before the factors. Both
    # samples get q75/sum = 0.325 (3.25/10 and 6.5/20), so the
    # symmetrized factors are 1. Gene means are 1.5, 3, 4.5, 6
    # (q25 = 2.625) and sample variances 0.5, 2, 4.5, 8 (q25 = 1.625),
    # so g2..g4 survive.
    x = np.array([[0.0, 1, 2, 3, 4], [0.0, 2, 4, 6, 8]])
    kept, got = reference.preprocess(x)
    assert kept.tolist() == [2, 3, 4]
    want = np.log2(np.array([[3.0, 4, 5], [5, 7, 9]]))
    assert reference.max_relative_error(got, want) < 1e-12


def test_numpy_reference_symmetrizes_unequal_factors():
    # q75/sum is 3.25/10 for sample 0 and 7/22 for sample 1; the
    # factors are divided by their geometric mean.
    x = np.array([[1.0, 2, 3, 4], [2.0, 4, 6, 10]])
    nf0, nf1 = 0.325, 7 / 22
    gm = math.sqrt(nf0 * nf1)
    scaled = np.vstack([x[0] * nf0 / gm, x[1] * nf1 / gm])
    kept, got = reference.preprocess(x)
    means, variances = scaled.mean(axis=0), scaled.var(axis=0, ddof=1)
    keep = (means > np.quantile(means, 0.25)) & (variances > np.quantile(variances, 0.25))
    assert kept.tolist() == np.flatnonzero(keep).tolist()
    assert reference.max_relative_error(got, np.log2(scaled[:, keep] + 1)) < 1e-12


def test_relative_error_flags_shape_and_value_mismatch():
    a = np.ones((2, 3))
    assert reference.max_relative_error(a, a) == 0.0
    assert reference.max_relative_error(a, np.ones((2, 2))) == math.inf
    assert reference.max_relative_error(a * (1 + 1e-6), a) > 1e-9


def test_event_log_parser_on_a_recorded_log(tmp_path):
    counts = tracing.parse_event_log(DATA / "eventlog_small.jsonl")
    assert set(counts) == {"layer.a", "layer.b"}
    # layer.a scans a small parquet table to noop; layer.b aggregates
    # it through one shuffle. The untagged jobs before them are ignored.
    a, b = counts["layer.a"], counts["layer.b"]
    assert (a.jobs, a.tasks, a.tasks_failed, a.useful_tasks) == (2, 3, 0, 2)
    assert (b.jobs, b.tasks, b.tasks_failed, b.useful_tasks) == (2, 5, 0, 4)
    assert (a.shuffle_write_bytes, b.shuffle_write_bytes) == (0, 357)
    assert (a.task_wait_ms, b.task_wait_ms) == (36, 62)

    # a rolling-log directory reads the same events in file order
    rolled = tmp_path / "eventlog_v2_app"
    rolled.mkdir()
    lines = (DATA / "eventlog_small.jsonl").read_text().splitlines(keepends=True)
    half = len(lines) // 2
    (rolled / "events_2_app").write_text("".join(lines[half:]))
    (rolled / "events_1_app").write_text("".join(lines[:half]))
    (rolled / "appstatus_app").write_text("")
    assert tracing.parse_event_log(rolled) == counts


def test_event_log_parser_counts_failed_and_empty_tasks(tmp_path):
    props = {"Properties": {tracing.TAG: "x"}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0], **props},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 1000}, **props},
    ]
    for i, (failed, records) in enumerate([(False, 5), (True, 0), (False, 0)]):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": 1000 + 100 * i, "Failed": failed},
            "Task Metrics": {"Input Metrics": {"Records Read": records},
                             "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 2048},
        })
    log = tmp_path / "log"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    c = tracing.parse_event_log(log)["x"]
    assert (c.jobs, c.tasks, c.tasks_failed, c.useful_tasks) == (1, 3, 1, 1)
    assert c.task_wait_ms == 0 + 100 + 200
    assert c.spill_bytes == 3 * 2048


def test_self_time_subtracts_the_union_of_children():
    spans = [
        tracing.Span("ml.cv", 0.0, 10.0),
        tracing.Span("ml.models", 1.0, 5.0, parent=0, thread=1),
        tracing.Span("ml.models", 2.0, 6.0, parent=0, thread=2),
        tracing.Span("ml.metrics", 8.0, 9.0, parent=0, thread=1),
    ]
    assert tracing.self_times(spans) == [10.0 - 5.0 - 1.0, 4.0, 4.0, 1.0]
    m = tracing.layer_metrics(spans, {})
    assert m["ml.cv.self_s"] == 4.0
    assert m["ml.models.call_s"] == 8.0
    assert m["llm.text.jobs"] == 0 and m["llm.text.useful_task_share"] == 0.0
    assert "ml.cv.drain_s" not in m and "llm.text.drain_s" in m


def test_a_failed_check_counts_against_attempted(tmp_path):
    r = run.Run("curate_corpus", 1, 1.0, False, tmp_path)
    r.checked("ok", lambda: [])
    r.checked("bad", lambda: ["mismatch"])
    r.checked("raises", lambda: 1 / 0)
    assert (r.attempted, r.failed) == (3, 2)


def test_curation_check_compares_rows_with_the_oracle():
    wl = workloads.CurateCorpus(1)
    wl.want = workloads._canonical([(1, "src0", 1.0, -1.5, 0.0), (2, "src1", 0.5, -2.0, 0.1)])
    same = [(2, "src1", 0.5, -2.0 + 1e-9, 0.1), (1, "src0", 1.0, -1.5, 0.0)]
    assert wl.check(same) == []
    assert wl.check(same[:1])
    assert wl.check([(2, "src1", 0.5, -2.1, 0.1), (1, "src0", 1.0, -1.5, 0.0)])


def test_classify_check_wants_repeatable_scores_above_the_floor():
    wl = workloads.GexpClassify(1)
    assert wl.check((0.95, 0.001, 0.93)) == []
    assert wl.check((0.95, 0.001, 0.93)) == []
    assert wl.check((0.95, 0.001, 0.94))  # differs from the first call
    assert workloads.GexpClassify(1).check((0.5, 0.01, 0.5))  # below the floor


def test_benchmark_json_lists_the_metrics_the_harness_prints():
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_missing_program_exits_nonzero_without_a_result(tmp_path):
    import subprocess
    import sys

    shutil.copytree(REPO / "perfbench", tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curate_corpus", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()
