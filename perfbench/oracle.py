"""Independent single-process recomputation of the committed graph.

Re-derives, without Spark, what ``run_pipeline`` must commit for a set
of pages: per-page extraction, then skolemization, host bucketing,
per-wave entity linking, canonicalization and per-graph dedup, each
re-implemented here from the documented semantics of the pipeline's
stages. The committed triples are compared to this as an
order-independent multiset hash.

Extraction avoids the pipeline's hot path: a page is decoded with the
codec the generator encoded it with (not ``functions/charset.py``'s
sniffing) and tokenized by the stdlib-backed ``HtmlTagEventParser``
(not ``FastHtmlTokenizer``). The microdata state machine,
``MicrodataExtractor``, is the one part shared with the program.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import unicodedata
from collections import Counter

from microdata_rdf_streaming_parser_js_spark.functions.html_events import HtmlTagEventParser
from microdata_rdf_streaming_parser_js_spark.functions.microdata import MicrodataExtractor
from microdata_rdf_streaming_parser_js_spark.operators.extract import MAX_HTML_BYTES
from microdata_rdf_streaming_parser_js_spark.operators.linking import SCHEMA_NAME
from microdata_rdf_streaming_parser_js_spark.operators.skolemize import DEFAULT_SALT

_M32 = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    return (_rotl(k1, 15) * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    h1 = _rotl(h1 ^ k1, 13)
    return (h1 * 5 + 0xE6546B64) & _M32


def spark_hash(s: str, seed: int = 42) -> int:
    """Spark SQL ``hash()`` of a string (Murmur3_x86_32 over the UTF-8
    bytes, trailing bytes mixed one signed byte at a time)."""
    data = s.encode("utf-8")
    n = len(data)
    aligned = n - n % 4
    h1 = seed
    for i in range(0, aligned, 4):
        h1 = _mix_h1(h1, _mix_k1(int.from_bytes(data[i:i + 4], "little")))
    for i in range(aligned, n):
        b = data[i] - 256 if data[i] > 127 else data[i]
        h1 = _mix_h1(h1, _mix_k1(b & _M32))
    h1 ^= n
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 & 0x80000000 else h1


def host_of(url: str) -> str:
    return url.split("://", 1)[1].split("/", 1)[0].split(":", 1)[0]


def host_bucket(url: str, n_buckets: int) -> int:
    return spark_hash(host_of(url)) % n_buckets


def _skolem(url: str, label: str) -> str:
    return "urn:skolem:" + hashlib.sha256(f"{url}|{DEFAULT_SALT}|{label}".encode()).hexdigest()


def extract(page: dict) -> list:
    """Triples of one page: decoded with its generator codec, tokenized
    by the stdlib-backed parser."""
    extractor = MicrodataExtractor(page["base_iri"] or "")
    parser = HtmlTagEventParser(extractor)
    parser.feed(page["html"].decode(page["codec"]))
    parser.end()
    return extractor.triples


def page_triples(page: dict) -> list[tuple] | None:
    """Skolemized triple rows of one page (url, subj, pred, obj,
    obj_kind, obj_lang, obj_datatype), or None when the extractor
    quarantines it."""
    html, url = page["html"], page["url"]
    if html is None or len(html) > MAX_HTML_BYTES:
        return None
    triples = extract(page)
    rows = []
    for t in triples:
        subj = _skolem(url, t.subj) if t.subj.startswith("_:") else t.subj
        obj, kind = t.obj, t.obj_kind
        if kind == "blank":
            obj, kind = _skolem(url, obj), "iri"
        rows.append((url, subj, t.pred, obj, kind, t.obj_lang, t.obj_datatype))
    return rows


_JAVA_WS = " \t\n\x0b\f\r"
_WS_RUN = re.compile(r"[ \t\n\x0b\f\r]+")


def norm_key(s: str) -> str:
    """linking.norm_key: trim spaces, lowercase, drop everything but
    letters, digits and whitespace, collapse whitespace runs."""
    s = s.strip(" ").lower()
    s = "".join(c for c in s if c in _JAVA_WS or unicodedata.category(c)[0] in "LN")
    return _WS_RUN.sub(" ", s)


def link_mapping(rows: list[tuple]) -> dict[str, str]:
    """Frequency linker: per normalized name, the most mentioned entity
    (ties: smallest IRI) is canonical; an IRI in several keys maps to
    the smallest canonical."""
    freq: Counter = Counter()
    for _url, subj, pred, obj, kind, _l, _d in rows:
        if pred == SCHEMA_NAME and kind == "literal" and obj is not None:
            key = norm_key(obj)
            if key:
                freq[(key, subj)] += 1
    best: dict[str, tuple] = {}
    for (key, iri), n in freq.items():
        cand = (-n, iri)
        if key not in best or cand < best[key]:
            best[key] = cand
    mapping: dict[str, str] = {}
    for (key, iri) in freq:
        canon = best[key][1]
        if iri != canon and (iri not in mapping or canon < mapping[iri]):
            mapping[iri] = canon
    return mapping


def wave_rows(rows: list[tuple]) -> set[tuple]:
    """link -> canonicalize -> per-graph dedup over one wave's rows."""
    m = link_mapping(rows)
    out = set()
    for url, subj, pred, obj, kind, lang, dt in rows:
        obj2 = m.get(obj, obj) if kind == "iri" else obj
        out.add((url, m.get(subj, subj), pred, obj2, kind, lang, dt))
    return out


def expected_triples(pages: list[dict], n_buckets: int, waves: list[list[int]],
                     redo: list[list[int]] = ()) -> list[tuple]:
    """Final committed rows (host_bucket first) for a batch run whose
    buckets were processed in ``waves``, after which the buckets of
    ``redo`` were re-run, wave by wave, by a resume."""
    by_bucket: dict[int, list[tuple]] = {}
    for p in pages:
        rows = page_triples(p)
        if rows:
            by_bucket.setdefault(host_bucket(p["url"], n_buckets), []).extend(rows)
    final: dict[int, set] = {}
    for wave in list(waves) + list(redo):
        rows = [r for b in wave for r in by_bucket.get(b, ())]
        linked = wave_rows(rows)
        for b in wave:
            final[b] = set()
        for r in linked:
            final[host_bucket(r[0], n_buckets)].add(r)
    return [(b,) + r for b, rs in final.items() for r in rs]


def multiset_digest(rows) -> str:
    """Order-independent multiset hash: row count plus the sum of
    per-row 64-bit digests."""
    total, n = 0, 0
    for r in rows:
        h = hashlib.blake2b("\x1f".join("\x00" if v is None else str(v) for v in r).encode(),
                            digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) & ((1 << 64) - 1)
        n += 1
    return f"{n}:{total:016x}"


def cached_digest(cache_dir: str, key: str, compute) -> str:
    """Digest of ``compute()``, memoized on disk under ``key``."""
    path = os.path.join(cache_dir, f"{key}.json")
    try:
        with open(path) as f:
            return json.load(f)["digest"]
    except (OSError, ValueError, KeyError):
        pass
    digest = multiset_digest(compute())
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump({"digest": digest}, f)
    os.replace(tmp, path)
    return digest
