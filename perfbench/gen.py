"""Seeded workload generators.

Every generator is a pure function of its seed: the same seed gives
byte-identical pages. Pages are plain dicts with the columns the
pipeline reads (``url``, ``html``, ``base_iri``) plus ``warc_ts`` and
``lang``. Two more keys never reach the program: ``fixture`` names the
conformance fixture a page carries (None for the rest) and ``codec``
is the Python codec its text was encoded with.

``base_iri`` is the page URL, except on fixture-backed pages, where it
is the fixture's own base IRI so the goldens apply verbatim (the
extraction stage honours a ``base_iri`` column, like the reference
parser's ``baseIRI`` option).
"""

from __future__ import annotations

import bisect
import random
from datetime import datetime, timedelta, timezone

from microdata_rdf_streaming_parser_js_spark.fixtures import FIXTURES
from microdata_rdf_streaming_parser_js_spark.operators.extract import MAX_HTML_BYTES

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

# crawl-mix: log-normal page size, median ~24 KB, clipped to [2 KB, 256 KB]
CRAWL_PAGES = 800
CRAWL_MEDIAN_BYTES = 24_000
CRAWL_SIGMA = 0.7
CRAWL_HOSTS = 400
CRAWL_FIXTURE_FRAC = 0.12
CRAWL_ITEM_FRAC = 0.30
CRAWL_CHARSET_FRAC = 0.10

# dense-kg: small microdata-dense pages, one mega-host with ~1/3 of rows
DENSE_PAGES = 600
DENSE_HOSTS = 300
DENSE_MEGA_FRAC = 0.33
DENSE_FIXTURE_FRAC = 0.05
DENSE_ENTITIES = 220

# trickle: one small parquet file of pages per tick
TRICKLE_PAGES_PER_FILE = 8
TRICKLE_FIXTURE_FRAC = 0.15

_WORDS = (
    "the of and to in a is that for it as was with be by on not he this are "
    "or his from at which but have an they you were her she there one all "
    "we their has been would more when if will what some other its into "
    "only new time about may these also people two first any then over "
    "market price city report season update local review share weather "
    "school travel health music garden family recipe museum council"
).split()

# non-UTF-8 charsets a crawl sees, with text each can encode
_CHARSETS = (
    ("windows-1252", "cp1252", "Café déjà vu — naïve façade"),
    ("iso-8859-1", "cp1252", "Über straße größe"),
    ("shift_jis", "cp932", "東京の天気と交通"),
    ("koi8-r", "koi8-r", "Новости города"),
    ("gbk", "gbk", "北京市天气预报"),
)


def zipf_picker(rng: random.Random, n: int, s: float = 1.1):
    """Host index sampler with P(k) ~ 1/(k+1)^s."""
    cum, tot = [], 0.0
    for k in range(n):
        tot += 1.0 / (k + 1) ** s
        cum.append(tot)
    return lambda: min(n - 1, bisect.bisect_left(cum, rng.random() * tot))


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _boilerplate_blocks(rng: random.Random, n_blocks: int = 160) -> list[str]:
    """Balanced, microdata-free HTML blocks (nav, scripts, paragraphs,
    tables, forms, comments). No ``id`` attributes, so a fixture's
    ``itemref`` can never resolve into boilerplate."""
    blocks = []
    for b in range(n_blocks):
        kind = b % 8
        if kind == 0:
            links = "".join(
                f'<li class="nav-item"><a href="/{rng.choice(_WORDS)}/{rng.randrange(999)}" '
                f'title="{_sentence(rng, 2)}">{_sentence(rng, 2)}</a></li>'
                for _ in range(rng.randint(6, 20))
            )
            blocks.append(f'<nav class="menu"><ul>{links}</ul></nav>\n')
        elif kind == 1:
            body = "".join(
                f"var v{j}=function(a,b){{return a<b?a:b+{j};}};" for j in range(rng.randint(10, 40))
            )
            blocks.append(f'<script type="text/javascript">{body}</script>\n')
        elif kind == 2:
            rules = "".join(
                f".c{j}{{margin:{j}px;color:#{rng.randrange(4096):03x}}}" for j in range(rng.randint(10, 30))
            )
            blocks.append(f"<style>{rules}</style>\n")
        elif kind == 3:
            rows = "".join(
                "<tr>" + "".join(f"<td>{_sentence(rng, 2)}</td>" for _ in range(4)) + "</tr>"
                for _ in range(rng.randint(3, 10))
            )
            blocks.append(f'<table class="data"><tbody>{rows}</tbody></table>\n')
        elif kind == 4:
            blocks.append(
                '<form action="/search" method="get"><input type="text" name="q">'
                f'<select name="s"><option>{_sentence(rng, 1)}</option><option>{_sentence(rng, 1)}</option>'
                '</select><button type="submit">Go</button></form>\n'
            )
        elif kind == 5:
            blocks.append(f"<!-- {_sentence(rng, 12)} -->\n")
        else:
            paras = "".join(
                f'<p class="t">{_sentence(rng, rng.randint(20, 90))} &amp; '
                f'<a href="https://ext{rng.randrange(50)}.example.net/">{_sentence(rng, 3)}</a>'
                f" <em>{_sentence(rng, 2)}</em>&nbsp;{_sentence(rng, 8)}<br></p>"
                for _ in range(rng.randint(2, 6))
            )
            blocks.append(f'<div class="content"><img src="/i/{rng.randrange(999)}.png" alt="">{paras}</div>\n')
    return blocks


def _filler(rng: random.Random, blocks: list[str], n_bytes: int) -> str:
    out, size = [], 0
    while size < n_bytes:
        blk = rng.choice(blocks)
        out.append(blk)
        size += len(blk)
    return "".join(out)


def _with_boilerplate(fixture_html: str, filler: str) -> str:
    """Splice a fixture into a page: boilerplate right after ``<body>``
    (or in front of a body-less document)."""
    at = fixture_html.find("<body>")
    if at < 0:
        return filler + fixture_html
    at += len("<body>")
    return fixture_html[:at] + filler + fixture_html[at:]


def _page(url: str, html: bytes | None, i: int, fixture: str | None = None,
          base_iri: str | None = None, codec: str = "utf-8") -> dict:
    return {
        "url": url,
        "warc_ts": EPOCH + timedelta(seconds=i),
        "html": html,
        "lang": "en",
        "base_iri": url if base_iri is None else base_iri,
        "fixture": fixture,
        "codec": codec,
    }


_ITEM_TYPES = ("Product", "Article", "Recipe", "LocalBusiness", "Event")


def _schema_item(rng: random.Random, i: int, name: str) -> str:
    t = rng.choice(_ITEM_TYPES)
    return (
        f'<div itemscope itemtype="http://schema.org/{t}">'
        f'<h1 itemprop="name">{name}</h1>'
        f'<meta itemprop="sku" content="sku-{i}">'
        f'<span itemprop="description">{_sentence(rng, 12)}</span>'
        f'<a itemprop="url" href="/item/{i}">more</a></div>\n'
    )


def _shuffled_kinds(rng: random.Random, counts: dict[str, int], n: int) -> list[str]:
    """Exactly ``counts[k]`` pages of each kind (the rest "plain"), in
    seeded order: the mix is the same for every seed."""
    kinds = [k for k, c in counts.items() for _ in range(c)]
    kinds += ["plain"] * (n - len(kinds))
    rng.shuffle(kinds)
    return kinds


def crawl_mix_pages(seed: int, n_pages: int = CRAWL_PAGES) -> list[dict]:
    """Realistic crawl slice. Mostly microdata-free boilerplate of
    log-normal size; a minority splice a conformance fixture or carry
    one schema.org item; some declare a non-UTF-8 charset; hosts are
    Zipf; plus two pages the extractor must quarantine (a null body and
    one page over ``MAX_HTML_BYTES``). The mix and the total byte count
    are fixed; the seed picks order, sizes, hosts and content."""
    rng = random.Random(seed)
    blocks = _boilerplate_blocks(rng)
    host = zipf_picker(rng, CRAWL_HOSTS)
    n_fix = min(len(FIXTURES), round(CRAWL_FIXTURE_FRAC * n_pages))
    n_charset = round(CRAWL_CHARSET_FRAC * n_pages)
    kinds = _shuffled_kinds(rng, {"fixture": n_fix, "item": round(CRAWL_ITEM_FRAC * n_pages)}, n_pages)
    fixtures = rng.sample(FIXTURES, n_fix)
    charset_at = set(rng.sample([i for i, k in enumerate(kinds) if k != "fixture"], n_charset))
    sizes = [rng.lognormvariate(0, CRAWL_SIGMA) for _ in range(n_pages)]
    scale = CRAWL_MEDIAN_BYTES * n_pages * 1.25 / sum(sizes)  # mean = 1.25 x median at sigma 0.7
    pages = []
    for i, kind in enumerate(kinds):
        url = f"http://www.site{host()}.example.com/p/{i}.html"
        filler = _filler(rng, blocks, int(min(256_000, max(2_000, sizes[i] * scale))))
        if kind == "fixture":
            fx = fixtures.pop()
            html = _with_boilerplate(fx.html, filler)
            pages.append(_page(url, html.encode("utf-8"), i, fx.name, fx.base_iri))
            continue
        item = _schema_item(rng, i, f"Item {i} {_sentence(rng, 2)}") if kind == "item" else ""
        if i in charset_at:
            label, codec, text = _CHARSETS[rng.randrange(len(_CHARSETS))]
            if item:
                item = _schema_item(rng, i, f"{text} {i}")
            head = f'<meta charset="{label}"><title>{text}</title>'
            html = f"<html><head>{head}</head><body>{filler}{item}<p>{text}</p></body></html>"
            pages.append(_page(url, html.encode(codec), i, codec=codec))
        else:
            head = f'<meta charset="utf-8"><title>{_sentence(rng, 4)}</title>'
            html = f"<html><head>{head}</head><body>{filler}{item}</body></html>"
            pages.append(_page(url, html.encode("utf-8"), i))
    pages.append(_page("http://www.site0.example.com/quarantine/null.html", None, n_pages))
    huge = b"<html><body><p>" + b"x" * (MAX_HTML_BYTES + 1) + b"</p></body></html>"
    pages.append(_page("http://www.site1.example.com/quarantine/huge.html", huge, n_pages + 1))
    return pages


# entity names: synthetic syllables (no collision with fixture names)
_SYL = ("zor", "vex", "qua", "lin", "dra", "mok", "tel", "fyn", "bri", "sal", "kor", "nix", "pel", "gar", "rho", "tav")
_SUFFIX = ("Labs", "Corp", "Group", "Systems", "Foods", "Works", "Holdings", "Studio")


def _entity_names(rng: random.Random, n: int) -> list[str]:
    names = set()
    while len(names) < n:
        first = "".join(rng.choice(_SYL) for _ in range(rng.randint(2, 3))).capitalize()
        names.add(f"{first} {rng.choice(_SUFFIX)}")
    return sorted(names)


def _variant(rng: random.Random, name: str) -> str:
    """Case / punctuation variant with the same normalized linking key."""
    k = rng.randrange(5)
    if k == 0:
        return name
    if k == 1:
        return name.upper()
    if k == 2:
        return name.lower() + "."
    if k == 3:
        return name.replace(" ", ", ", 1)
    return name + "!"


def _dense_page(rng: random.Random, i: int, url: str, host_id: int, names: list[str]) -> str:
    parts = ['<html><head><meta charset="utf-8"></head><body>']
    for j in range(3 + i % 4):
        org = rng.choice(names)
        person = rng.choice(names)
        # half the items carry a host-scoped itemid: the same name on two
        # hosts is two IRIs, which linking must merge
        oid = f' itemid="http://h{host_id}.example.org/org/{names.index(org)}"' if j % 2 else ""
        parts.append(
            f'<div itemscope itemtype="http://schema.org/Organization"{oid} itemref="addr{j}">'
            f'<span itemprop="name">{_variant(rng, org)}</span>'
            f'<div itemprop="employee" itemscope itemtype="http://schema.org/Person">'
            f'<span itemprop="name">{_variant(rng, person)}</span>'
            f'<span itemprop="jobTitle">{rng.choice(_WORDS)}</span></div>'
            f'<link itemprop="sameAs" href="/org/{names.index(org)}">'
            "</div>"
            f'<p id="addr{j}" itemprop="address" itemscope itemtype="http://schema.org/PostalAddress">'
            f'<span itemprop="addressLocality">{rng.choice(_WORDS)}</span></p>'
        )
        if j % 3 == 0:
            # the same entity again under another variant: after
            # canonicalization its triples duplicate and dedup drops them
            parts.append(
                f'<div itemscope itemtype="http://schema.org/Organization"{oid}>'
                f'<span itemprop="name">{_variant(rng, org)}</span></div>'
            )
    parts.append("</body></html>")
    return "".join(parts)


def dense_kg_pages(seed: int, n_pages: int = DENSE_PAGES) -> list[dict]:
    """Small microdata-dense pages: nested, ``itemref`` and blank-node
    items whose names collide across hosts in case and punctuation, so
    linking, canonicalization and dedup all change rows. One mega-host
    holds about a third of the pages. Item and fixture counts are fixed;
    the seed picks names, variants, hosts and order."""
    rng = random.Random(seed)
    names = _entity_names(rng, DENSE_ENTITIES)
    host = zipf_picker(rng, DENSE_HOSTS, 0.9)
    n_fix = round(DENSE_FIXTURE_FRAC * n_pages)
    kinds = _shuffled_kinds(rng, {"fixture": n_fix}, n_pages)
    fixtures = rng.sample(FIXTURES, n_fix)
    pages = []
    for i, kind in enumerate(kinds):
        h = 0 if rng.random() < DENSE_MEGA_FRAC else 1 + host()
        url = f"http://h{h}.example.org/kg/{i}.html"
        if kind == "fixture":
            fx = fixtures.pop()
            pages.append(_page(url, fx.html.encode("utf-8"), i, fx.name, fx.base_iri))
        else:
            pages.append(_page(url, _dense_page(rng, i, url, h, names).encode("utf-8"), i))
    return pages


def trickle_file(seed: int, k: int) -> list[dict]:
    """The ``k``-th file of the trickle feed: a few small crawl pages,
    some fixture-backed. Seeded per (seed, k), so any prefix of the feed
    is reproducible on its own."""
    rng = random.Random(seed * 1_000_003 + k)
    blocks = _boilerplate_blocks(rng, 16)
    host = zipf_picker(rng, 60)
    pages = []
    for j in range(TRICKLE_PAGES_PER_FILE):
        i = k * TRICKLE_PAGES_PER_FILE + j
        url = f"http://news{host()}.example.net/t/{k}/{j}.html"
        filler = _filler(rng, blocks, rng.randint(1_000, 6_000))
        if rng.random() < TRICKLE_FIXTURE_FRAC:
            fx = FIXTURES[rng.randrange(len(FIXTURES))]
            html = _with_boilerplate(fx.html, filler)
            pages.append(_page(url, html.encode("utf-8"), i, fx.name, fx.base_iri))
        else:
            item = _schema_item(rng, i, f"Story {i}") if rng.random() < 0.5 else ""
            html = f'<html><head><meta charset="utf-8"></head><body>{filler}{item}</body></html>'
            pages.append(_page(url, html.encode("utf-8"), i))
    return pages
