"""The benchmark's own tests.

Run from the repository root with ``python3 -m pytest perfbench -q``.  The
Spark-backed tests start one local session and run real jobs, so the whole
file takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import inputs, oracle  # noqa: E402
from perfbench.run import build_metrics, load_spec  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

WORKLOAD_NAMES = sorted(WORKLOADS)


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    a, meta_a = inputs.prepare(workload, 5, tmp_path / "a")
    b, meta_b = inputs.prepare(workload, 5, tmp_path / "b")
    c, _ = inputs.prepare(workload, 6, tmp_path / "c")
    assert _files(a) == _files(b)
    assert meta_a == meta_b
    fa, fc = _files(a), _files(c)
    assert fa.keys() == fc.keys()
    assert all(fa[k] != fc[k] for k in fa)


def test_seal_corpus_shape_is_fixed():
    for seed in (1, 2, 3):
        docs = inputs.seal_documents(seed)
        assert len(docs) == inputs.SEAL_DOCS
        n_media = sum(inputs._n_media(d) for d in docs)
        assert n_media == round(inputs.SEAL_MEDIA_PER_DOC * inputs.SEAL_DOCS)
        heavy = [d for d in docs if len(d["spans"]) >= inputs.HEAVY_MIN_SPANS]
        assert len(heavy) == max(1, round(inputs.SEAL_HEAVY_SHARE * inputs.SEAL_DOCS))


def test_curate_corpus_has_the_documents_table_shape():
    for seed in (1, 2):
        rows = inputs.curate_documents_rows(seed)
        assert sorted(r["doc_id"] for r in rows) == list(range(inputs.CURATE_DOCS))
        lo, hi = inputs.CURATE_TOKENS
        words = [r["text"].split() for r in rows]
        near = [w for w in words if w[-1] == "dup"]
        assert len(near) == round(inputs.CURATE_NEAR_DUP_SHARE * inputs.CURATE_DOCS)
        assert all(lo <= len(w) <= hi for w in words if w[-1] != "dup")
        assert all(len(w) > inputs.CURATE_MIN_SOURCE_TOKENS for w in near)
        assert {t for w in words for t in w} <= set(inputs.CURATE_VOCAB) | {"dup"}


def test_curate_funnel_oracle_sees_planted_duplicates():
    rows = inputs.curate_documents_rows(4)
    funnel, kept = oracle.reference_funnel(rows)
    n = inputs.CURATE_DOCS
    near = [r["text"] for r in rows if r["text"].endswith(" dup")]
    # a source drawn twice gives two identical near duplicates
    assert funnel["0_input"] == funnel["1_lang"] == funnel["2_quality"] == n
    assert funnel["3_exact_dedup"] == n - (len(near) - len(set(near)))
    assert funnel["4_near_dedup"] == len(kept) == n - len(near)


def test_near_dedup_survivors_matches_all_pairs():
    rows = {r["doc_id"]: r["text"] for r in inputs.curate_documents_rows(3, n_docs=120)}
    sh = {i: oracle.shingles(t) for i, t in rows.items()}
    parent = {i: i for i in rows}

    def find(x):
        return x if parent[x] == x else find(parent[x])

    for a in sorted(rows):
        for b in sorted(rows):
            if a < b and int(100 * len(sh[a] & sh[b]) / len(sh[a] | sh[b])) >= 80:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
    assert oracle.near_dedup_survivors(rows) == {i for i in rows if find(i) == i}


# ---------------------------------------------------------------------------
# metric names
# ---------------------------------------------------------------------------


def test_build_metrics_emits_exactly_the_spec():
    spec = load_spec()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        values = {m["name"]: 1.5 for m in spec["end_to_end"] + spec["per_layer"]}
        out = build_metrics(spec, trace, values)
        assert list(out) == [m["name"] for m in spec[key]]
        assert all(out[m["name"]]["unit"] == m["unit"] for m in spec[key])
        with pytest.raises(KeyError):
            build_metrics(spec, trace, {})


def test_benchmark_json_lists_the_workloads_it_runs():
    spec = load_spec()
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in spec["end_to_end"])


def test_traced_run_prints_only_metrics_named_in_benchmark_json():
    spec = load_spec()
    names = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "seal-batch", "--seed", "3",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    printed = [ln.split()[1] for ln in lines if ln.startswith("metric ")]
    assert printed and set(printed) <= names
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert list(result["metrics"]) == [m["name"] for m in spec["per_layer"]]


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "seal-batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# ---------------------------------------------------------------------------
# the oracle gate, on real output tables
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.run import _spark_env, shutdown, start_spark

    extra = _spark_env(tmp_path_factory.mktemp("spark"))
    session = start_spark(2, extra)
    yield session
    shutdown(session)


def _rewrite_one_file(table_dir: Path, lineage: bool, change) -> None:
    from red_seal_ocr_spark.sources.snapshot import current_snapshot

    path = current_snapshot(str(table_dir))["lineage_files" if lineage else "data_files"][0]
    t = pq.read_table(path)
    rows = t.to_pylist()
    change(rows)
    pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), path)
    # Hadoop's local file system checks each file against its .crc sibling
    crc = Path(path).with_name(f".{Path(path).name}.crc")
    crc.unlink(missing_ok=True)


def test_extraction_gate_fails_on_an_altered_table(spark, tmp_path):
    input_dir, meta = inputs.prepare("seal-batch", 8, tmp_path / "inputs")
    wl = WORKLOADS["seal-batch"](input_dir, meta)
    table = tmp_path / "table"
    wl.job(spark, str(table))
    expected = wl.expected(2)
    assert wl.check(spark, str(table), expected) == {
        "checked": meta["docs"], "wrong": 0, "media": meta["media_spans"],
        "failures": sum(n for _, _, n in expected.values())}

    def change_one_spliced_span(rows):
        for row in rows:
            for span in row["spans"]:
                if span["kind"] == "text" and span["media_ref"]:
                    span["text"] = span["text"] + "X"
                    return
        raise AssertionError("no spliced span in the first data file")

    _rewrite_one_file(table, False, change_one_spliced_span)
    assert wl.check(spark, str(table), expected)["wrong"] == 1


def test_funnel_gate_fails_on_an_altered_table(spark, tmp_path):
    input_dir, meta = inputs.prepare("curate-text", 8, tmp_path / "inputs")
    wl = WORKLOADS["curate-text"](input_dir, meta)
    table = tmp_path / "table"
    wl.job(spark, str(table))
    expected = wl.expected(1)
    assert wl.check(spark, str(table), expected) == {"checked": 6, "wrong": 0}

    def change_one_stage(rows):
        rows[0]["docs"] += 1

    _rewrite_one_file(table, True, change_one_stage)
    assert wl.check(spark, str(table), expected)["wrong"] == 1
