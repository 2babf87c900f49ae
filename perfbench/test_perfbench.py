"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The staging tests take seconds; each smoke run starts a Spark session
(~1 min on a 4-core host).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import workloads  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# the end-to-end metrics each workload prints, by name
PRINTED = {
    "extract_commit": ["setup_s", "wall_s", "extracted_bytes_per_s",
                       "error_rate", "peak_rss_mb"],
    "curate_corpus": ["setup_s", "wall_s", "error_rate", "peak_rss_mb"],
    "ingest_incremental": ["setup_s", "wall_s", "freshness_p50_s",
                           "freshness_p75_s", "read_p50_s", "error_rate",
                           "peak_rss_mb"],
}


@pytest.fixture
def work_dir():
    """A fresh directory under the checkout's ignored work root."""
    import tempfile  # noqa: PLC0415

    root = os.path.join(ROOT, ".perfbench_work", "tests")
    os.makedirs(root, exist_ok=True)
    d = tempfile.mkdtemp(dir=root)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _stage_all(seed: int, d) -> list[str]:
    os.makedirs(d)
    paths = [os.path.join(d, "pages.parquet"),
             os.path.join(d, "documents.parquet")]
    gen.stage_pages(seed, 80, paths[0])
    gen.stage_documents(seed, 450, paths[1])
    batch = [os.path.join(d, f"b{b}.parquet") for b in range(3)]
    gen.stage_batches(seed, 3, 4, lambda b: batch[b])
    return paths + batch


def test_same_seed_stages_identical_bytes(work_dir):
    a = _stage_all(7, os.path.join(work_dir, "a"))
    b = _stage_all(7, os.path.join(work_dir, "b"))
    assert [_sha(p) for p in a] == [_sha(p) for p in b]


def test_different_seed_stages_different_bytes(work_dir):
    a = _stage_all(7, os.path.join(work_dir, "a"))
    b = _stage_all(8, os.path.join(work_dir, "b"))
    for pa, pb in zip(a, b):
        assert _sha(pa) != _sha(pb)


def test_sizes_do_not_depend_on_the_seed():
    """Sizes come from fixed grids: the seed moves content and order, not
    the host mix and (within a few words) not the amount of page text."""
    def shape(seed):
        pages = gen.pages_table(seed, 200)
        docs = gen.documents_table(seed, 450)
        sources = docs["source"].to_pylist()
        return (sum(len(t.split()) for t in pages["text"].to_pylist()),
                sorted(sources.count(f"big{h}.example.org")
                       for h in range(3)),
                len(set(sources)))
    (words1, *hosts1), (words2, *hosts2) = shape(1), shape(2)
    assert hosts1 == hosts2
    assert abs(words1 - words2) < 0.001 * words1


def test_documents_reproduce_the_measured_profile(work_dir):
    import profile_docs  # noqa: PLC0415

    path = os.path.join(work_dir, "documents.parquet")
    gen.stage_documents(9, 2000, path)
    got, want = profile_docs.profile(path), gen.PROFILE
    assert got["vocab"] == want["vocab"]
    assert tuple(got["words"]) == tuple(want["words"])
    assert abs(got["near_share"] - want["near_share"]) < 0.002
    assert abs(got["exact_share"] - want["exact_share"]) < 0.002
    for lang, share in want["langs"].items():
        assert abs(got["langs"][lang] - share) < 0.001


def test_flavor_mix_does_not_depend_on_the_seed():
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark import (  # noqa: E501, PLC0415
        datagen,
    )

    def mix(seed):
        ids = [gen.doc_id_base(seed) + i for i in range(300)]
        return sorted(datagen.flavor_for(i) + datagen.host_for(i)
                      for i in ids)
    assert mix(3) == mix(40)


def test_materialized_curate_oracle_matches_the_plain_one(work_dir):
    import duckdb  # noqa: PLC0415

    from _intelligent_document_ai_for_field_extraction_from_invoices_spark import (  # noqa: E501, PLC0415
        contract,
    )

    path = os.path.join(work_dir, "documents.parquet")
    gen.stage_documents(5, 150, path)
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{path}')")
    plain = sorted(r[0] for r in con.execute(
        contract.ORACLES["q_curate_survivors"]).fetchall())
    con.close()
    assert plain == workloads.curate_oracle(path)
    assert 0 < len(plain) < 150


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(PRINTED))
def test_smoke_run_prints_every_metric(workload, trace):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "2",
              "--trace", str(trace), "--scale", "tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    printed = {ln.split()[2]: ln.split()[-1] for ln in lines
               if ln.startswith("metric ")}
    for name in PRINTED[workload]:
        assert name in printed, name
    assert any(ln.startswith("stamp ") for ln in lines)
    if workload != "ingest_incremental":
        # ingest fails on HEAD at the manifest-merge tail read
        assert out["correct"] and out["failed"] == 0, lines[-25:]


def test_fails_without_the_package(work_dir):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), work_dir)
    shutil.copytree(HERE, os.path.join(work_dir, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "extract_commit", "--seed", "1", "--seconds",
              "1", "--trace", "0"], cwd=work_dir)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
