"""Tests of the benchmark itself: metric completeness of tiny runs, the
output checkers, and seed determinism of the inputs.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import checks, inputs
from perfbench.run import ROOT, metric_units
from perfbench.workloads import WORKLOADS


def _run(workload: str, trace: int, cwd: str = ROOT, timeout: int = 300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_emits_every_metric_with_unit(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    if workload == "search_filters":
        assert result["failed"] == 0
    assert result["correct"] is True
    want = metric_units("end_to_end" if trace == 0 else "per_layer")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if trace == 0:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("extract", 0, cwd=str(tmp_path), timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# -- checkers -------------------------------------------------------------

def test_extraction_checker_fires_on_injected_mismatch():
    rows, goldens = inputs.transcripts(5, 30, 1)
    texts = inputs.expected_texts(goldens)
    expected = {(r["conv_id"], r["turn_idx"]): texts.get((r["conv_id"], r["turn_idx"]), "")
                for r in rows}
    got = [(c, t, text) for (c, t), text in expected.items()]
    assert checks.check_extraction(got, expected) == []
    changed = list(got)
    changed[3] = (got[3][0], got[3][1], got[3][2] + " x")
    assert checks.check_extraction(changed, expected) == [got[3][:2]]
    assert checks.check_extraction(got[1:], expected) == [got[0][:2]]
    assert checks.check_extraction(got + [got[5]], expected) == [got[5][:2]]


def test_search_checker_fires_on_injected_mismatch():
    segs = inputs.segments(5, 50)
    oracle = checks.SearchOracle(segs)
    q = next(q for q in inputs.queries(5, segs, inputs.QUERY_FORMS * 5) if oracle.search(q))
    want = oracle.search(q)
    assert checks.same_hits(dict(want), want)
    key = next(iter(want))
    cindex, score = want[key]
    assert not checks.same_hits({**want, key: (cindex + (99,), score)}, want)
    assert not checks.same_hits({**want, key: (cindex, score * 1.001)}, want)
    assert not checks.same_hits({k: v for k, v in want.items() if k != key}, want)


def test_eol_tail_flag_reads_stream_bytes():
    def pdf(data: bytes) -> bytes:
        return b"4 0 obj << /Length %d >> stream\n%s\nendstream endobj" % (len(data), data)

    assert not inputs.stream_has_eol_tail(pdf(b"abc"))
    assert inputs.stream_has_eol_tail(pdf(b"ab\n"))
    assert inputs.stream_has_eol_tail(pdf(b"abc") + pdf(b"ab\r"))
    assert not inputs.stream_has_eol_tail(pdf(b"a\nb"))


def test_oracle_number_normalization():
    # index.js:13-19 parity cases, as tests/test_search.py pins them
    for raw, norm in [("12.5", "NUMERICVALUE"), ("2021", "2021"), ("1899", "NUMERICVALUE"),
                      ("3", "3"), ("4.0", "4.0"), ("-1", "NUMERICVALUE"),
                      ("5", "NUMERICVALUE"), ("$5,000", "NUMERICVALUE"), ("abc", "abc"),
                      ("€3.2", "NUMERICVALUE"), ("2021.5", "NUMERICVALUE")]:
        assert checks._norm_token(raw) == norm, raw


def test_oracle_matches_spark_search():
    """The oracle against the Spark path on the fixture of
    tests/test_search.py, for every query form the workload issues."""
    from crrf_det_spark.caching import release
    from crrf_det_spark.pipeline import build_session
    from crrf_det_spark.search import build_index, search

    segs = [
        ("c1", 0, 0, "text", "net revenue increased 12.5 percent in 2021"),
        ("c1", 0, 1, "table", "steel\t1,240\ncopper\t988"),
        ("c1", 1, 0, "text", "climate targets for 2030 remain 3 priorities"),
        ("c2", 0, 0, "text", "revenue guidance unchanged at $5,000"),
        ("c2", 1, 0, "table", "wheat\t77.5\nurea\t88.1"),
    ]
    spark = build_session(app="perfbench_tests", master="local[2]", shuffle_partitions=4)
    try:
        postings = build_index(spark.createDataFrame(
            segs, "conv_id string, turn_idx int, cindex int, type string, content string"))
        oracle = checks.SearchOracle(segs)
        for q in ["revenue", "revenue -guidance", '"net revenue"', "table:steel",
                  "text:steel", "copper", "climate -targets", "nothing"]:
            res = search(postings, q, n_docs=oracle.n_docs)
            got = checks.hits_of([r.asDict() for r in res.collect()])
            release(res)
            assert checks.same_hits(got, oracle.search(q)), q
    finally:
        spark.stop()


# -- seed determinism -------------------------------------------------------

def _input_digest(seed: int) -> str:
    rows, goldens = inputs.transcripts(seed, 30, 1)
    payloads, _g = inputs.pdf_payloads(seed, 50)
    segs = inputs.segments(seed, 50)
    return inputs.digest({"rows": rows, "goldens": goldens, "pdf": payloads,
                          "segments": segs, "queries": inputs.queries(seed, segs)})


def test_same_seed_same_input_digest():
    assert _input_digest(7) == _input_digest(7)


def test_different_seed_different_input_digest():
    assert _input_digest(7) != _input_digest(8)
