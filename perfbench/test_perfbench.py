"""Self-tests of the benchmark: `python3 -m pytest perfbench -q`.

The last test runs every workload twice (traced and untraced) and takes
a few minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
import subprocess
import sys
import threading
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import spans  # noqa: E402


def test_generator_same_seed_same_inputs():
    texts = gen.note_texts(3)
    assert texts == gen.note_texts(3)
    assert gen.ingest_request(3, 5, 20, texts) == gen.ingest_request(3, 5, 20, texts)
    assert gen.upsert_slice(3, 2, 2000, 100) == gen.upsert_slice(3, 2, 2000, 100)
    a, b = gen.fixture_tables(3), gen.fixture_tables(3)
    assert all(a[t].equals(b[t]) for t in a)


def test_generator_different_seeds_differ():
    t3, t4 = gen.note_texts(3), gen.note_texts(4)
    assert t3 != t4
    assert gen.ingest_request(3, 0, 20, t3)["records"] != gen.ingest_request(4, 0, 20, t4)["records"]
    assert gen.upsert_slice(3, 0, 2000, 100) != gen.upsert_slice(4, 0, 2000, 100)
    a, b = gen.fixture_tables(3), gen.fixture_tables(4)
    assert not a["documents"].equals(b["documents"])


def test_planted_token_marks_exactly_its_batch():
    texts = gen.note_texts(1)
    reqs = [gen.ingest_request(1, k, 10, texts) for k in range(12)]
    for r in reqs:
        assert r["token"].isalnum()
        for other in reqs:
            hit = [rec for rec in other["records"] if r["token"] in rec["note"].split()]
            assert len(hit) == (10 if other is r else 0)


@pytest.fixture()
def tracer():
    tr = spans.Tracer()
    tr.install()
    try:
        yield tr
    finally:
        tr.uninstall()


def test_spans_nest_and_self_time_is_not_negative(tracer, tmp_path):
    from serverless_datalake_aws_spark.sources import commitlog

    def worker():
        with commitlog.FileLock(tmp_path / "b.lock"):
            pass

    with tracer.span("client.request"):
        with commitlog.FileLock(tmp_path / "a.lock"):
            t = threading.Thread(target=worker)
            t.start()
            t.join(timeout=30)
    assert not t.is_alive()
    names = [sp.name for sp in tracer.spans]
    assert names.count("sources.FileLock.acquire") == 2
    # the other thread's spans hang under the client's open span
    root = tracer.spans[0]
    assert all(sp.request == root.sid for sp in tracer.spans)
    check = tracer.check()
    assert check["ok"], check
    assert all(tracer.self_time(sp) >= 0 for sp in tracer.spans)


def test_uninstall_restores_and_wrappers_pickle_as_originals(tracer):
    from serverless_datalake_aws_spark import engine
    from serverless_datalake_aws_spark.sources import writers

    wrapped = writers.compact
    assert isinstance(wrapped, spans._Traced)
    assert isinstance(vars(engine.DataLakeEngine)["ingest_batch"], spans._Traced)
    blob = pickle.dumps(wrapped)
    tracer.uninstall()
    assert not isinstance(writers.compact, spans._Traced)
    assert not isinstance(vars(engine.DataLakeEngine)["ingest_batch"], spans._Traced)
    assert pickle.loads(blob) is writers.compact


def test_benchmark_json_lists_what_run_reports():
    import run

    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_names()
    assert len(bench["per_layer"]) <= 128


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=HERE.parent, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


@pytest.mark.parametrize("workload", ["ingest_index", "analytics"])
def test_traced_and_untraced_runs_report_the_same_checks(workload):
    detail0, result0 = _run(workload, 0)
    detail1, result1 = _run(workload, 1)
    assert result0["correct"] and result1["correct"]
    assert (result0["attempted"], result0["failed"]) == (result1["attempted"], result1["failed"])
    assert detail0["checks"] == detail1["checks"]
    assert detail1["span_check"]["ok"]
