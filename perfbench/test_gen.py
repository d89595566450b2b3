"""The benchmark's own tests: its inputs are a pure function of the seed,
and the metrics it prints are the ones BENCHMARK.json names.

    python3 -m pytest perfbench/test_gen.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import pickle

from data_ingestion_py_spark.sources.ocr_pure import ALNUM_TEMPLATES

from perfbench import gen


def _inputs(seed: int) -> dict[str, bytes]:
    """Every byte each workload hands the program, per workload."""
    ingest = gen.ingest_corpus(seed, 2, 6, ALNUM_TEMPLATES)
    stream = gen.command_stream(seed, 5, 12, 3)
    curate = gen.curate_corpus(seed, 60, 40, 4)
    return {
        "ingest": b"".join(d.name.encode() + d.pdf for b in ingest.batches for d in b),
        "catalog_serve": pickle.dumps([b.rows for b in stream.batches])
        + stream.embeddings.tobytes(),
        "curate": "\n".join(curate.texts + curate.langs).encode() + curate.embeddings.tobytes(),
    }


def _digests(seed: int) -> dict[str, str]:
    return {k: hashlib.sha256(v).hexdigest() for k, v in _inputs(seed).items()}


def test_same_seed_gives_byte_identical_inputs():
    assert _inputs(7) == _inputs(7)


def test_different_seed_gives_different_inputs():
    a, b = _digests(7), _digests(8)
    assert all(a[k] != b[k] for k in a)


def test_ingest_corpus_properties():
    c = gen.ingest_corpus(3, 2, 8, ALNUM_TEMPLATES)
    assert all(sum(d.scanned for d in b) == 2 for b in c.batches)
    assert 0 < c.sizes()["ocr_page_frac"] < 1
    assert all(d.pdf.startswith(b"%PDF-") for b in c.batches for d in b)


def test_command_batches_hold_exactly_the_drain_size():
    stream = gen.command_stream(3, 6, 40, 3)
    assert all(len(b.rows) == 40 for b in stream.batches)
    assert [b.expire_first for b in stream.batches] == [False, False, False, True, False, False]


def test_snippet_replay_windows():
    text = " ".join(f"w{i}" for i in range(8 * 7))  # 7 sentences
    got = gen.snippets_of(text)
    assert [sid for sid, _ in got] == [1, 2, 3]
    assert got[1][1].split(" ")[0] == "w24"  # window 2 starts at sentence 3
    assert gen.snippets_of("") == [] and gen.snippets_of(None) == []


def test_catalog_replay_batch_order_contract():
    r = gen.CatalogReplay()
    up = dict(
        action_code=gen.UPLOAD, document_id=1, category_id=1, document_name="x",
        page_texts=["a b c"], document_expiryDate=None,
    )
    # within one batch uploads apply before removes: X ends absent
    r.apply([{**up, "seq": 2}, {"seq": 1, "action_code": gen.REMOVE, "document_name": "x"}])
    assert "x" not in r.docs and r.audit == {1: "ok", 2: "ok"}
    r.apply([{**up, "seq": 3}, {**up, "seq": 4, "document_id": 2}])
    assert r.docs["x"]["document_id"] == 1 and r.audit[4] == "duplicate"


def test_curate_planted_pairs_clear_the_threshold():
    c = gen.curate_corpus(5, 200, 100, 4)
    assert c.planted_pairs
    assert all(gen.jaccard(c.texts[a], c.texts[b]) >= 0.5 for a, b in c.planted_pairs)
    sims = gen.cosine_matrix(c.embeddings)
    assert all(sims[a, b] >= 0.9 for a, b in c.planted_vec_pairs)


def test_printed_metrics_match_benchmark_json():
    import importlib.util
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(root, "perfbench", "run.py"))
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == ["ingest_serve", "curate"]
