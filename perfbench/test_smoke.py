"""Tiny-size smoke test of the benchmark (2 files per workload).

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric BENCHMARK.json names is emitted in both modes,
that the traced run records the layers each workload exercises (and
reads 0 for the layers it bypasses), and that a corrupted input makes the
output checks fail.  Each case starts its own Spark session, so the file
takes several minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SEED = 3

_EDF_COMMON = [
    "session.get_spark_s",
    "pipeline.process_edf_directory_s",
    "pipeline.build_channel_metadata_s",
    "sources.edf.scan_edf_files_s",
    "sources.edf.decode_chunk_runs_s",
    "sources.edf.parse_signal_headers_s",
    "sources.edf.input_read_ratio",
    "operators.sessionize.merge_chunk_runs_s",
    "operators.sessionize.runs_in",
    "operators.sessionize.chunks_out",
    "operators.channels.get_or_create_channels_s",
    "operators.channels.match_existing_channels_s",
    "run.jobs",
    "run.tasks",
    "run.executor_run_s",
    "trace.fused_run_s",
]
# layer metrics that must be > 0 on each workload ...
EXERCISED = {
    "ingest_long": _EDF_COMMON
    + [
        "sources.edf.decode_samples_s",
        "sources.edf.decode_samples_rows",
        "sources.edf.decode_samples_tasks",
        "sinks.writers.write_samples_parquet_s",
        "sinks.writers.shuffle_write_bytes",
        "sinks.writers.parquet_bytes_per_sample",
        "sinks.writers.write_channels_json_s",
    ],
    "catalog_gappy_append": _EDF_COMMON
    + [
        "sources.edf.decode_annotations_s",
        "pipeline.validate_channels_s",
        "pipeline.channel_dicts_s",
        "pipeline.channel_dicts_jobs",
        "sinks.writers.write_annotations_json_s",
    ],
}
# ... and that must read 0 because the workload bypasses the layer
BYPASSED = {
    "ingest_long": [
        "sources.edf.decode_annotations_s",
        "sinks.writers.write_annotations_json_s",
    ],
    "catalog_gappy_append": [
        "sources.edf.decode_samples_s",
        "sinks.writers.write_samples_parquet_s",
    ],
}


def _run(workload: str, trace: int, *extra: str) -> dict:
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", workload,
            "--seed", str(SEED),
            "--seconds", "1",
            "--trace", str(trace),
            "--size", "tiny",
            *extra,
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _assert_shape(res: dict, section: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int)
    assert list(res["metrics"]) == [m["name"] for m in SPEC[section]]
    for m in SPEC[section]:
        got = res["metrics"][m["name"]]
        assert set(got) == {"value", "unit"} and got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_emitted(workload):
    res = _run(workload, 0)
    _assert_shape(res, "end_to_end")
    assert res["correct"] and res["failed"] == 0
    for name, m in res["metrics"].items():
        assert m["value"] > 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_layer_metrics_and_spans_emitted(workload):
    res = _run(workload, 1)
    _assert_shape(res, "per_layer")
    assert res["correct"] and res["failed"] == 0
    values = {k: v["value"] for k, v in res["metrics"].items()}
    for name in EXERCISED[workload]:
        assert values[name] > 0, name
    for name in BYPASSED[workload]:
        assert values[name] == 0, name
    path = os.path.join(ROOT, ".perfbench_work", f"{workload}-{SEED}-t1", "spans.json")
    with open(path) as f:
        spans = json.load(f)["spans"]
    for s in spans:
        assert {"name", "start", "end", "parent", "run_id"} <= set(s)
        assert s["end"] >= s["start"]
    kinds = {s["kind"] for s in spans}
    assert "fused" in kinds and "alone" in kinds


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_input_fails_the_check(workload):
    res = _run(workload, 0, "--corrupt")
    assert not res["correct"]
    assert res["failed"] >= 1
