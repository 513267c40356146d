"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import gen, oracle  # noqa: E402
from perfbench.verify import check_graph, read_graph  # noqa: E402


@pytest.mark.parametrize("make", [gen.crawl_mix_pages, gen.dense_kg_pages])
def test_batch_generators_are_deterministic(make):
    a, b, c = make(7, 60), make(7, 60), make(8, 60)
    assert a == b
    assert [p["html"] for p in a] != [p["html"] for p in c]


def test_trickle_files_are_deterministic_per_seed_and_index():
    assert gen.trickle_file(7, 3) == gen.trickle_file(7, 3)
    assert gen.trickle_file(7, 3) != gen.trickle_file(7, 4)
    assert gen.trickle_file(7, 3) != gen.trickle_file(8, 3)


def test_crawl_mix_plants_quarantined_and_fixture_pages():
    pages = gen.crawl_mix_pages(1, 200)
    assert any(p["html"] is None for p in pages)
    assert any(p["html"] is not None and len(p["html"]) > gen.MAX_HTML_BYTES for p in pages)
    assert any(p["fixture"] for p in pages)
    assert any(b'charset="shift_jis"' in (p["html"] or b"") for p in gen.crawl_mix_pages(1))


def test_every_page_decodes_with_its_recorded_codec():
    # the oracle decodes with ``codec`` instead of sniffing the charset
    pages = gen.crawl_mix_pages(1) + gen.dense_kg_pages(1) + gen.trickle_file(1, 0)
    codecs = {p["codec"] for p in pages}
    assert len(codecs) > 3
    for p in pages:
        if p["html"] is not None and len(p["html"]) <= gen.MAX_HTML_BYTES:
            p["html"].decode(p["codec"])


def test_host_bucket_matches_spark():
    # (host, pmod(hash(host), 16)) pairs read back from a Spark-written table
    for host, bucket in [("h86.example.org", 1), ("h208.example.org", 3), ("h65.example.org", 15),
                         ("h219.example.org", 5), ("h108.example.org", 7), ("h17.example.org", 2),
                         ("h25.example.org", 8), ("h244.example.org", 7)]:
        assert oracle.host_bucket(f"http://{host}/x.html", 16) == bucket


def test_norm_key_collapses_case_and_punctuation_variants():
    keys = {oracle.norm_key(v) for v in ("Zorvex Labs", "ZORVEX LABS", "zorvex labs.", "Zorvex, Labs", "Zorvex Labs!")}
    assert keys == {"zorvex labs"}


def _write_graph(out: Path, rows: list[tuple]) -> None:
    """Lay a graph out the way the pipeline's writers do (hive
    partitions by host_bucket plus the _progress ledger)."""
    by_bucket: dict[int, list[tuple]] = {}
    for r in rows:
        by_bucket.setdefault(r[0], []).append(r)
    ledger = []
    for b, rs in sorted(by_bucket.items()):
        cols = list(zip(*[r[1:] for r in rs]))
        names = ["url", "subj", "pred", "obj", "obj_kind", "obj_lang", "obj_datatype"]
        part = out / "triples" / f"host_bucket={b}"
        part.mkdir(parents=True)
        pq.write_table(pa.table({n: pa.array(c, pa.string()) for n, c in zip(names, cols)}), part / "p.parquet")
        nodes = sorted({r[2] for r in rs} | {r[4] for r in rs if r[5] != "literal"})
        part = out / "nodes" / f"host_bucket={b}"
        part.mkdir(parents=True)
        pq.write_table(pa.table({"iri": nodes, "kind": ["iri"] * len(nodes)}), part / "p.parquet")
        edges = [r for r in rs if r[5] != "literal"]
        part = out / "edges" / f"host_bucket={b}"
        part.mkdir(parents=True)
        pq.write_table(pa.table({"subj": [r[2] for r in edges], "pred": [r[3] for r in edges],
                                 "obj": [r[4] for r in edges], "url": [r[1] for r in edges]},
                                schema=pa.schema([(n, pa.string()) for n in ("subj", "pred", "obj", "url")])),
                       part / "p.parquet")
        ledger.append((b, len(rs), len(nodes), len(edges), "run"))
    (out / "_progress").mkdir()
    pq.write_table(pa.table({"host_bucket": pa.array([r[0] for r in ledger], pa.int32()),
                             "n_triples": [r[1] for r in ledger], "n_nodes": [r[2] for r in ledger],
                             "n_edges": [r[3] for r in ledger], "run_id": [r[4] for r in ledger]}),
                   out / "_progress" / "p.parquet")


@pytest.fixture
def good_graph(tmp_path):
    pages = gen.dense_kg_pages(3, 40)
    n_buckets = 4
    rows = oracle.expected_triples(pages, n_buckets, [[0, 1, 2, 3]])
    fixture_of = {p["url"]: p["fixture"] for p in pages if p["fixture"]}
    return tmp_path, rows, n_buckets, oracle.multiset_digest(rows), fixture_of


def test_verifier_accepts_the_recomputed_graph(good_graph):
    tmp, rows, n_buckets, digest, fixture_of = good_graph
    _write_graph(tmp / "ok", rows)
    errors, pr = check_graph(read_graph(tmp / "ok"), digest, fixture_of, n_buckets)
    assert errors == []
    assert pr == {"triple_precision": 1.0, "triple_recall": 1.0}


@pytest.mark.parametrize("corrupt", ["drop_row", "rewrite_object", "duplicate_row"])
def test_verifier_rejects_a_corrupted_graph(good_graph, corrupt):
    tmp, rows, n_buckets, digest, fixture_of = good_graph
    rows = sorted(rows, key=str)
    if corrupt == "drop_row":
        rows = rows[1:]
    elif corrupt == "rewrite_object":
        r = rows[0]
        rows = [r[:4] + ("http://corrupt.example/x",) + r[5:]] + rows[1:]
    else:
        rows = rows + rows[:1]
    _write_graph(tmp / corrupt, rows)
    errors, _pr = check_graph(read_graph(tmp / corrupt), digest, fixture_of, n_buckets)
    assert any("recomputation" in e for e in errors)


def test_verifier_rejects_ledger_and_node_damage(good_graph):
    tmp, rows, n_buckets, digest, fixture_of = good_graph
    _write_graph(tmp / "g", rows)
    g = read_graph(tmp / "g")
    g["progress"] = g["progress"] + g["progress"][:1]
    g["nodes"] = g["nodes"][1:]
    errors, _pr = check_graph(g, digest, fixture_of, n_buckets)
    assert any("appears twice" in e for e in errors)
    assert any("nodes differ" in e for e in errors)
    g["progress"] = g["progress"][2:]
    errors, _pr = check_graph(g, digest, fixture_of, n_buckets)
    assert any("missing from the ledger" in e for e in errors)


def test_fixture_pr_falls_when_fixture_triples_are_lost():
    pages = [p for p in gen.crawl_mix_pages(2, 300) if p["fixture"]]
    rows = [(0,) + r for p in pages for r in (oracle.page_triples(p) or ())]
    fixture_of = {p["url"]: p["fixture"] for p in pages}
    from perfbench.verify import fixture_pr

    assert fixture_pr(rows, fixture_of) == (1.0, 1.0)
    precision, recall = fixture_pr(rows[: len(rows) // 2], fixture_of)
    assert precision == 1.0 and recall < 0.95
