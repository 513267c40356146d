"""Output verifier: reads a committed graph with pyarrow (no Spark) and
checks it against the fixture goldens and the oracle digest.

Every failed check is returned as a message; an empty list means the
output is correct.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pyarrow.dataset as ds

from microdata_rdf_streaming_parser_js_spark.fixtures import FIXTURES_BY_NAME
from microdata_rdf_streaming_parser_js_spark.functions.isomorphism import is_isomorphic

from .oracle import multiset_digest

PR_BOUND = 0.95
TRIPLE_COLS = ["host_bucket", "url", "subj", "pred", "obj", "obj_kind", "obj_lang", "obj_datatype"]
_SKOLEM = "urn:skolem:"


def read_table(path: str, columns: list[str]) -> dict[str, list]:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns).to_pydict()


def read_graph(out_dir: str) -> dict:
    """The committed tables as lists of row tuples."""
    t = read_table(f"{out_dir}/triples", TRIPLE_COLS)
    n = read_table(f"{out_dir}/nodes", ["host_bucket", "iri", "kind"])
    e = read_table(f"{out_dir}/edges", ["host_bucket", "subj", "pred", "obj", "url"])
    p = read_table(f"{out_dir}/_progress", ["host_bucket", "n_triples", "n_nodes", "n_edges", "run_id"])
    rows = lambda d, cols: list(zip(*(d[c] for c in cols)))  # noqa: E731
    return {
        "triples": rows(t, TRIPLE_COLS),
        "nodes": rows(n, ["host_bucket", "iri", "kind"]),
        "edges": rows(e, ["host_bucket", "subj", "pred", "obj", "url"]),
        "progress": rows(p, ["host_bucket", "n_triples", "n_nodes", "n_edges", "run_id"]),
    }


def _as_blank(term: str) -> str:
    return "_:" + term[len(_SKOLEM):] if term.startswith(_SKOLEM) else term


def fixture_pr(triples: list[tuple], fixture_of: dict[str, str]) -> tuple[float, float]:
    """Micro-averaged precision/recall of fixture-backed pages against
    their goldens. Skolem IRIs (including ones linking moved onto
    another page's skolem) are compared as blank nodes, up to
    isomorphism; a page that is not isomorphic to its golden scores
    the triples it shares with it with blank labels erased."""
    by_url = defaultdict(list)
    for _b, url, subj, pred, obj, kind, lang, dt in triples:
        if url in fixture_of:
            if obj.startswith(_SKOLEM):
                obj, kind = _as_blank(obj), "blank"
            by_url[url].append((_as_blank(subj), pred, obj, kind, lang or None, dt or None))
    matched = got = want = 0
    for url, name in fixture_of.items():
        mine = set(by_url.get(url, ()))
        gold = {tuple(t) for t in FIXTURES_BY_NAME[name].expected}
        got += len(mine)
        want += len(gold)
        if is_isomorphic(list(mine), list(gold)):
            matched += len(gold)
            continue
        erase = lambda ts: Counter(  # noqa: E731
            ("_:" if s.startswith("_:") else s, p, "_:" if k == "blank" else o, k, l, d)
            for s, p, o, k, l, d in ts)
        matched += sum((erase(mine) & erase(gold)).values())
    precision = matched / got if got else 1.0
    recall = matched / want if want else 1.0
    return precision, recall


def check_graph(g: dict, expected_digest: str | None, fixture_of: dict[str, str],
                n_buckets: int | None) -> tuple[list[str], dict]:
    """Consistency, ledger, oracle and fixture checks on one committed
    graph. ``n_buckets`` set means a batch run: every bucket must be in
    the ledger exactly once; otherwise (stream) each micro-batch must
    list a bucket at most once."""
    errors = []
    triples = g["triples"]
    non_lit = [t for t in triples if t[5] != "literal"]
    want_nodes = {(t[0], t[2]) for t in triples} | {(t[0], t[4]) for t in non_lit}
    got_nodes = Counter((b, iri) for b, iri, _k in g["nodes"])
    if set(got_nodes) != want_nodes:
        errors.append(f"nodes differ from the committed triples ({len(got_nodes)} vs {len(want_nodes)})")
    want_edges = Counter((t[0], t[2], t[3], t[4], t[1]) for t in non_lit)
    if Counter(g["edges"]) != want_edges:
        errors.append("edges differ from the committed triples")

    ledger = Counter((b, run) for b, *_rest, run in g["progress"])
    if any(c > 1 for c in ledger.values()):
        errors.append("a host_bucket appears twice in the ledger")
    per_bucket = Counter(t[0] for t in triples)
    ledger_buckets = Counter(b for b, _run in ledger)
    if n_buckets is not None:
        missing = set(range(n_buckets)) - set(ledger_buckets)
        if missing:
            errors.append(f"host_buckets missing from the ledger: {sorted(missing)[:8]}")
        if any(c > 1 for c in ledger_buckets.values()):
            errors.append("a host_bucket appears twice in the ledger")
        nodes_per_bucket = Counter(b for b, _i, _k in g["nodes"])
        edges_per_bucket = Counter(e[0] for e in g["edges"])
        for b, n_t, n_n, n_e, _run in g["progress"]:
            if (n_t, n_n, n_e) != (per_bucket[b], nodes_per_bucket[b], edges_per_bucket[b]):
                errors.append(f"ledger counts of bucket {b} differ from its committed rows")
                break
    else:
        missing = set(per_bucket) - set(ledger_buckets)
        if missing:
            errors.append(f"host_buckets missing from the ledger: {sorted(missing)[:8]}")
        if sum(r[1] for r in g["progress"]) != len(triples):
            errors.append("ledger triple counts differ from the committed triples")

    if expected_digest is not None:
        got = multiset_digest(triples)
        if got != expected_digest:
            errors.append(f"committed triples differ from the recomputation ({got} vs {expected_digest})")

    precision, recall = fixture_pr(triples, fixture_of)
    if precision < PR_BOUND or recall < PR_BOUND:
        errors.append(f"fixture precision/recall {precision:.4f}/{recall:.4f} below {PR_BOUND}")
    return errors, {"triple_precision": precision, "triple_recall": recall}
