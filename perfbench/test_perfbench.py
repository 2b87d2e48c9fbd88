"""Toy-scale tests of the benchmark itself (about 20k turns).

  python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402
import verify  # noqa: E402
import workloads  # noqa: E402
from batch import run_job, start_session  # noqa: E402

TOY_TURNS = 20_000


def _table(d: str):
    return workloads._read_dir(os.path.join(d, "transcripts"))


@pytest.mark.parametrize("kind", ["uniform", "hot"])
def test_generators_are_deterministic_per_seed(tmp_path, kind):
    a = workloads.build(str(tmp_path / "a"), kind, 5, TOY_TURNS)
    b = workloads.build(str(tmp_path / "b"), kind, 5, TOY_TURNS)
    c = workloads.build(str(tmp_path / "c"), kind, 6, TOY_TURNS)
    assert _table(a).equals(_table(b))
    assert not _table(a).equals(_table(c))
    for name in ("conv_meta.parquet", "oracle_rows.parquet"):
        assert pq.read_table(os.path.join(a, name)).equals(
            pq.read_table(os.path.join(b, name))
        )


def test_source_hash_follows_file_contents(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "__pycache__").mkdir(parents=True)
    (pkg / "a.py").write_text("x = 1\n")
    h = workloads.source_hash(str(pkg))
    (pkg / "__pycache__" / "a.cpython.pyc").write_bytes(b"\0")
    assert workloads.source_hash(str(pkg)) == h
    (pkg / "a.py").write_text("x = 2\n")
    assert workloads.source_hash(str(pkg)) != h


def test_hot_corpus_has_one_quarter_conversation_gap_free(tmp_path):
    d = workloads.build(str(tmp_path), "hot", 5, TOY_TURNS)
    df = _table(d).to_pandas()
    assert len(df) == TOY_TURNS
    sizes = df.groupby("conv_id").size()
    assert sizes.max() >= 0.25 * TOY_TURNS
    g = df.groupby("conv_id")["turn_idx"]
    assert (g.min() == 0).all()
    assert (g.max() == sizes - 1).all()
    assert (g.nunique() == sizes).all()


def test_first_batch_is_seven_eighths_of_whole_conversations(tmp_path):
    d = workloads.build(str(tmp_path), "uniform", 5, TOY_TURNS)
    first = workloads.first_batch_files(d)
    convs_first = set()
    for f in first:
        convs_first |= set(pq.read_table(f, columns=["conv_id"]).column(0).to_pylist())
    rest = set(_table(d).column("conv_id").to_pylist()) - convs_first
    n_first = sum(pq.read_metadata(f).num_rows for f in first)
    assert n_first == TOY_TURNS * 7 // 8
    assert rest and not (rest & convs_first)


def test_follow_schedule_is_deterministic(tmp_path):
    a = workloads.build_follow(str(tmp_path / "a"), 5, 3, 500)
    b = workloads.build_follow(str(tmp_path / "b"), 5, 3, 500)
    files = sorted(os.listdir(os.path.join(a, "transcripts")))
    assert len(files) == 3
    for f in files:
        ta = pq.read_table(os.path.join(a, "transcripts", f))
        assert ta.equals(pq.read_table(os.path.join(b, "transcripts", f)))
    # files hold whole conversations
    seen = set()
    for f in files:
        convs = set(pq.read_table(os.path.join(a, "transcripts", f)).column("conv_id").to_pylist())
        assert not (convs & seen)
        seen |= convs


@pytest.fixture(scope="module")
def job_output(tmp_path_factory):
    root = tmp_path_factory.mktemp("job")
    corpus = workloads.build(str(root / "cache"), "uniform", 5, TOY_TURNS)
    scratch = str(root / "scratch")
    master = "local[2]"
    out = str(root / "out")
    start_session(scratch, master)
    _, summary, _ = run_job(corpus, out, scratch, master)
    yield corpus, out, scratch, master, summary


def _copy(src: str, tmp_path) -> str:
    dst = str(tmp_path / "out")
    shutil.copytree(src, dst)
    return dst


def test_verifier_accepts_the_job_output(job_output):
    corpus, out, _, _, summary = job_output
    assert verify.check_job_output(out, corpus) == []
    assert verify.check_sink_counts(summary, corpus) == []


def test_verifier_rejects_a_deleted_sink_file(job_output, tmp_path):
    corpus, out, _, _, _ = job_output
    out = _copy(out, tmp_path)
    victim = next(
        os.path.join(d, f)
        for d, _, fs in sorted(os.walk(os.path.join(out, "sinks")))
        for f in sorted(fs)
        if f.endswith(".parquet")
    )
    os.remove(victim)
    assert verify.check_job_output(out, corpus)


def test_verifier_rejects_a_duplicated_batch(job_output, tmp_path):
    corpus, out, scratch, master, _ = job_output
    out = _copy(out, tmp_path)
    # without its checkpoint the rerun appends the same batch again
    shutil.rmtree(os.path.join(out, "checkpoint"))
    start_session(scratch, master)
    run_job(corpus, out, scratch, master)
    problems = verify.check_job_output(out, corpus)
    assert any("duplicate" in p for p in problems)


def test_verifier_rejects_wrong_no_write_counts(job_output):
    corpus, _, _, _, summary = job_output
    bad = dict(summary, sinks=dict(summary["sinks"], errors=summary["sinks"]["errors"] + 1))
    assert verify.check_sink_counts(bad, corpus)


def test_every_emitted_metric_is_declared():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert per_layer == layers.LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
