"""Workload runners: the end-to-end run (``--trace 0``, tracing off)
and the layer-by-layer traced run (``--trace 1``).

Layers are timed from outside, around calls into their public
functions; the program itself is not modified.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import os
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import microdata_rdf_streaming_parser_js_spark as program
from microdata_rdf_streaming_parser_js_spark.operators.extract import MAX_HTML_BYTES
from microdata_rdf_streaming_parser_js_spark.plans.pipeline import run_pipeline
from microdata_rdf_streaming_parser_js_spark.streaming.stream import start_pipeline_stream

from . import gen, oracle, probes
from .verify import check_graph, read_graph

# batch workload parameters (README.md): crawl-mix keeps run_pipeline's
# default wave size and salt (one wave) with 4 buckets instead of 64;
# dense-kg runs two waves of 2 buckets, each bucket salted 2 ways
WORKLOADS = {
    "crawl-mix": {"pages": gen.crawl_mix_pages, "pipeline": {"n_buckets": 4}},
    "dense-kg": {"pages": gen.dense_kg_pages,
                 "pipeline": {"n_buckets": 4, "wave_size": 2, "salt_n": 2}},
}
INPUT_FILES = 8
SETUP_REPS = 3
MIN_TIMED_RUNS = 2
WARMUP_PAGES = 32
PAGE_COLS = ["url", "warc_ts", "html", "lang", "base_iri"]
PAGES_DDL = "url string, warc_ts timestamp, html binary, lang string, base_iri string"

# traced run: the trickle feeder lands TRICKLE_FED_FILES files, one per
# period (README.md, "trickle"); kernel sample size; input files in the
# extraction scale probe
TRICKLE_PERIOD_S = 2.5
TRICKLE_FED_FILES = 8
KERNEL_SAMPLE_PAGES = 300
SCALE_FILES = 4

UNITS = {
    "setup_s": "s", "pages_per_s": "pages/s", "triples_per_s": "triples/s",
    "resume_s": "s", "resume_redo_frac": "ratio", "triple_precision": "ratio",
    "triple_recall": "ratio", "peak_rss_mb": "MB", "ok_frac": "ratio",
    "functions.tokenize_us_per_kb": "us/KB", "functions.extract_us_per_page": "us/page",
    "functions.decode_us_per_kb": "us/KB", "functions.triples_per_page": "triples/page",
    "extract.s": "s", "extract.pages_in": "pages", "extract.triples_out": "triples",
    "extract.error_rows": "rows", "extract.udf_useful_frac": "ratio",
    "extract.scale_eff_1to4": "ratio", "skolemize.s": "s", "linking.s": "s",
    "linking.mentions": "rows", "linking.mapping_rows": "rows", "canonicalize.s": "s",
    "dedup.s": "s", "dedup.rows_in": "rows", "dedup.rows_out": "rows",
    "writers.s": "s", "writers.files": "files", "writers.mb": "MB",
    "writers.mean_file_kb": "KB", "writers.bucket_skew": "ratio",
    "pages.scan_s": "s", "pages.mb": "MB", "pipeline.waves": "count",
    "pipeline.ledger_read_s": "s", "stream.invocations": "count",
    "stream.commit_s_p50": "s", "stream.rows_per_commit": "rows",
    "stream.freshness_p50_s": "s", "stream.freshness_pmax_s": "s",
    "stream.backlog_max_files": "files",
    "stream.writers.s": "s", "stream.writers.files": "files", "stream.writers.mb": "MB",
    "stream.writers.mean_file_kb": "KB", "stream.writers.bucket_skew": "ratio",
    "session.jobs": "count", "session.tasks": "count", "session.shuffle_write_mb": "MB",
    "session.shuffle_read_mb": "MB", "session.spill_mb": "MB", "session.task_skew": "ratio",
    "session.gc_frac": "ratio", "trace.overhead_frac": "ratio",
}


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def defaults(fn) -> dict:
    """Keyword defaults of one of the program's functions."""
    return {k: p.default for k, p in inspect.signature(fn).parameters.items()
            if p.default is not p.empty}


def wave_plan(kw: dict, buckets: list[int] | None = None) -> tuple[int, list[list[int]]]:
    """Bucket count and waves of ``run_pipeline(**kw)`` when ``buckets``
    (default: all) are still to do: those buckets in order, ``wave_size``
    at a time."""
    d = defaults(run_pipeline)
    n_buckets, size = kw.get("n_buckets", d["n_buckets"]), kw.get("wave_size", d["wave_size"])
    todo = sorted(range(n_buckets) if buckets is None else buckets)
    return n_buckets, [todo[i:i + size] for i in range(0, len(todo), size)]


def write_pages(pages: list[dict], path: Path, n_files: int) -> None:
    path.mkdir(parents=True, exist_ok=True)
    table = pa.table({c: [p[c] for p in pages] for c in PAGE_COLS})
    n = len(pages)
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo), path / f"part-{k:03d}.parquet")


def high_percentile(values: list[float]) -> float:
    """Value at the highest percentile with at least ten samples
    beyond it (the maximum when there are fewer than eleven)."""
    s = sorted(values)
    return s[len(s) - 11] if len(s) >= 11 else s[-1]


# ---------------------------------------------------------------- session
class Session:
    """The program's Spark session (``session.get_spark``), restartable
    within one JVM, and torn down with every process it started."""

    def __init__(self, n_cores: int | None = None):
        self.n_cores = n_cores or cores()
        self.spark = None

    def start(self):
        from microdata_rdf_streaming_parser_js_spark.session import get_spark

        self.stop()
        self.spark = get_spark(cores=self.n_cores)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and
        every process below it (the Python workers) have ended."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        started = probes.descendants(proc.pid) if proc is not None else []
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while any(probes.alive(pid) for pid in started) and time.time() < deadline:
            time.sleep(0.2)


def setup(sess: Session) -> float:
    """One set-up: start the program's session until it runs a job. The
    first one in a process includes the JVM launch."""
    sess.stop()
    t0 = time.perf_counter()
    sess.start().range(1).count()
    return time.perf_counter() - t0


def warm_up(spark, pages_dir: Path) -> None:
    """Untimed: start the Python workers and import the program there."""
    from microdata_rdf_streaming_parser_js_spark.operators.extract import extract_triples

    extract_triples(spark.read.parquet(str(pages_dir)).limit(WARMUP_PAGES)).count()


# ------------------------------------------------------------- batch run
def _ledger_files(out: Path) -> list[tuple[str, set[int], float]]:
    files = []
    for f in sorted(glob.glob(str(out / "_progress" / "*.parquet"))):
        buckets = set(pq.read_table(f, columns=["host_bucket"]).column(0).to_pylist())
        files.append((f, buckets, os.path.getmtime(f)))
    return files


def planned_loss(waves: list[list[int]]) -> set[int]:
    """Buckets whose ledger rows the resume step removes: the last wave,
    or the highest bucket of a single-wave run."""
    return set(waves[-1]) if len(waves) > 1 else {waves[-1][-1]}


def drop_last_wave(out: Path, waves: list[list[int]]) -> set[int]:
    """Remove the :func:`planned_loss` rows from the ``_progress``
    ledger, as a crash before that wave's commit would leave it."""
    lost = planned_loss(waves)
    for f, buckets, _m in _ledger_files(out):
        if not buckets & lost:
            continue
        table = pq.read_table(f)
        kept = table.filter(pc.invert(pc.is_in(
            table["host_bucket"], value_set=pa.array(sorted(lost), table["host_bucket"].type))))
        os.remove(f)
        crc = Path(f).with_name(f".{Path(f).name}.crc")
        if crc.exists():
            crc.unlink()
        if kept.num_rows:
            # Spark wrote the ledger's timestamp as INT96; keep it so
            pq.write_table(kept, f, use_deprecated_int96_timestamps=True)
    return lost


def _digest_key(name: str, seed: int, n_buckets: int, waves: list[list[int]],
                redo: list[list[int]]) -> str:
    """Cache key: workload, seed, wave plan and the sources of the
    generator, the oracle and the program (the oracle shares the
    program's microdata state machine), so no change to any of them
    reads a stale digest."""
    here = Path(__file__).parent
    sources = [here / "gen.py", here / "oracle.py"] + sorted(Path(program.__file__).parent.rglob("*.py"))
    tag = hashlib.sha1(b"".join(f.read_bytes() for f in sources)).hexdigest()
    return f"{name}-{seed}-{n_buckets}-{waves}-{redo}-{tag[:10]}".replace(" ", "")


def _expected_digest(cache: str, name: str, seed: int, n_buckets: int,
                     waves: list[list[int]], redo: list[list[int]]) -> str:
    """Oracle digest of a batch run, cached per seed and wave plan."""
    pages = WORKLOADS[name]["pages"](seed)
    return oracle.cached_digest(cache, _digest_key(name, seed, n_buckets, waves, redo),
                                lambda: oracle.expected_triples(pages, n_buckets, waves, redo))


def start_child(call: str, *args, **popen_kw) -> subprocess.Popen:
    """Run ``perfbench.workloads.<call>(*args)`` in a child Python
    process (arguments pass as JSON)."""
    code = ("import json, sys; sys.path.insert(0, sys.argv[1]); "
            f"from perfbench.workloads import {call}; {call}(*json.loads(sys.argv[2]))")
    return subprocess.Popen([sys.executable, "-c", code, str(Path(__file__).parent.parent),
                             json.dumps(args)], **popen_kw)


def stop_job(job: subprocess.Popen) -> None:
    if job.poll() is None:
        job.kill()
    job.wait(timeout=60)


class Tally:
    """Attempted / failed operations of one benchmark run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def call(self, fn, *args, **kwargs):
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - a failed operation is a result, not a crash
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None


def run_end_to_end(name: str, seed: int, seconds: float, work: Path, cache: Path) -> dict:
    """Set up (median of several), one untimed warm-up pipeline run,
    timed pipeline runs for ``seconds`` (at least MIN_TIMED_RUNS), then
    a timed resume after the last wave's ledger rows are lost; then
    verify."""
    spec = WORKLOADS[name]
    kw = spec["pipeline"]
    n_buckets, waves = wave_plan(kw)
    lost = planned_loss(waves)
    redo = wave_plan(kw, sorted(lost))[1]
    pages = spec["pages"](seed)
    pages_dir = work / "pages"
    write_pages(pages, pages_dir, INPUT_FILES)
    tally, errors = Tally(), []
    walls, n_triples, resume_s, r = [], 0, float("nan"), None
    pr = {"triple_precision": float("nan"), "triple_recall": float("nan")}
    phases = [time.perf_counter()]
    sess = Session()
    job = None
    try:
        setups = [setup(sess) for _ in range(SETUP_REPS)]
        spark = sess.spark
        df = spark.read.parquet(str(pages_dir))
        phases.append(time.perf_counter())
        job = start_child("_expected_digest", str(cache), name, seed, n_buckets, waves, redo)
        tally.call(run_pipeline, spark, df, str(work / "warmup"), **kw)
        job.wait()
        phases.append(time.perf_counter())
        with probes.RssSampler() as rss:
            t_end = time.perf_counter() + seconds
            while len(walls) < MIN_TIMED_RUNS or time.perf_counter() < t_end:
                out = work / f"out{len(walls)}"
                t0 = time.perf_counter()
                if tally.call(run_pipeline, spark, df, str(out), **kw) is None:
                    break
                walls.append(time.perf_counter() - t0)
                n_triples = sum(sum(pq.read_table(f, columns=["n_triples"]).column(0).to_pylist())
                                for f, _bs, _m in _ledger_files(out))
            if walls and not tally.failed:
                drop_last_wave(out, waves)
                t0 = time.perf_counter()
                r = tally.call(run_pipeline, spark, df, str(out), **kw)
                resume_s = time.perf_counter() - t0
        phases.append(time.perf_counter())
        if r is not None:
            graph = read_graph(out)
            redo_frac = sum(1 for row in graph["progress"] if row[4] == r["run_id"]) / len(lost)
            digest = _expected_digest(str(cache), name, seed, n_buckets, waves, redo)
            fixture_of = {p["url"]: p["fixture"] for p in pages if p["fixture"]}
            errors, pr = check_graph(graph, digest, fixture_of, n_buckets)
        phases.append(time.perf_counter())
    finally:
        if job is not None:
            stop_job(job)
        sess.close()
    if errors:
        tally.failed += 1  # a wrong result fails the run
    wall = statistics.median(walls) if walls else float("nan")
    metrics = {
        "setup_s": statistics.median(setups),
        "pages_per_s": len(pages) / wall,
        "triples_per_s": n_triples / wall,
        "resume_s": resume_s,
        "resume_redo_frac": redo_frac if r is not None else float("nan"),
        **pr,
        "peak_rss_mb": rss.peak_mb,
        "ok_frac": 1 - tally.failed / tally.attempted,
    }
    for e in errors + tally.errors:
        print(f"{name}: FAILED: {e}", file=sys.stderr)
    print(f"{name}: setups {[round(x, 2) for x in setups]} s; {len(walls)} timed pipeline run(s), "
          f"walls {[round(w, 3) for w in walls]} s; resume of {len(lost)} bucket(s) {resume_s:.3f} s; "
          f"fail_frac = {tally.failed}/{tally.attempted}; "
          f"phase walls (setup, warm-up, measure, verify) "
          f"{[round(b - a, 1) for a, b in zip(phases, phases[1:])]} s", file=sys.stderr)
    return {"correct": not errors and not tally.failed, "attempted": tally.attempted,
            "failed": tally.failed, "metrics": metrics}


# ------------------------------------------------------------ traced run
class Spans:
    """In-memory spans around layer calls: name -> summed seconds."""

    def __init__(self):
        self.total: dict[str, float] = {}

    def time(self, name: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.total[name] = self.total.get(name, 0.0) + time.perf_counter() - t0
        return out


def _files_stats(root: Path, prefix: str) -> dict[str, float]:
    files = [f for t in ("triples", "nodes", "edges")
             for f in glob.glob(str(root / t / "**" / "*.parquet"), recursive=True)]
    mb = sum(os.path.getsize(f) for f in files) / 1e6
    return {f"{prefix}.files": len(files), f"{prefix}.mb": mb,
            f"{prefix}.mean_file_kb": 1000 * mb / max(1, len(files))}


def _bucket_skew(progress: list[tuple]) -> float:
    rows = {}
    for b, n, *_rest in progress:
        rows[b] = rows.get(b, 0) + n
    nonzero = [n for n in rows.values() if n > 0]
    return max(nonzero) / statistics.median(nonzero) if nonzero else 1.0


def traced_pipeline(spark, df, out: Path, kw: dict, spans: Spans) -> dict:
    """run_pipeline's plan, one layer at a time: each layer's frame is
    persisted and counted inside its span, per wave."""
    from pyspark.sql import functions as F

    from microdata_rdf_streaming_parser_js_spark.operators.canonicalize import (
        canonicalize_subjects, dedup_triples)
    from microdata_rdf_streaming_parser_js_spark.operators.extract import extract_triples
    from microdata_rdf_streaming_parser_js_spark.operators.linking import (
        detect_mentions, link_entities)
    from microdata_rdf_streaming_parser_js_spark.operators.skolemize import skolemize
    from microdata_rdf_streaming_parser_js_spark.sources.writers import (
        materialize_wave, with_host_bucket)

    n_buckets, waves = wave_plan(kw)
    counts = dict.fromkeys(["extract.pages_in", "extract.triples_out", "extract.error_rows",
                            "linking.mentions", "linking.mapping_rows", "dedup.rows_in",
                            "dedup.rows_out"], 0)

    def layer(name, frame):
        frame = frame.persist()
        n = spans.time(name, frame.count)
        return frame, n

    held = []
    pages_b = with_host_bucket(df, n_buckets)
    for wave in waves:
        wave_pages = pages_b.filter(F.col("host_bucket").isin(wave)).drop("host_bucket", "host")
        raw, _n = layer("extract.s", extract_triples(wave_pages, keep_errors=True))
        counts["extract.pages_in"] += wave_pages.count()
        counts["extract.error_rows"] += raw.filter(raw.error.isNotNull()).count()
        ok = raw.filter(raw.error.isNull()).drop("error")
        sk, n_sk = layer("skolemize.s", skolemize(ok))
        counts["extract.triples_out"] += n_sk
        counts["linking.mentions"] += detect_mentions(sk).count()
        mapping, n_map = layer("linking.s", link_entities(sk))
        counts["linking.mapping_rows"] += n_map
        canon, n_can = layer("canonicalize.s", canonicalize_subjects(sk, mapping, mapping_rows=n_map))
        dd, n_dd = layer("dedup.s", dedup_triples(canon, per_graph=True))
        counts["dedup.rows_in"] += n_can
        counts["dedup.rows_out"] += n_dd
        spans.time("writers.s", materialize_wave, spark, with_host_bucket(dd, n_buckets),
                   str(out), wave, salt_n=kw.get("salt_n", defaults(run_pipeline)["salt_n"]))
        held += [raw, sk, mapping, canon, dd]
    for frame in held:
        frame.unpersist()
    return counts


def _stream_commits(ckpt: Path) -> dict[str, float]:
    """Input file name -> time its micro-batch committed, from the
    streaming checkpoint (source offsets and commit markers)."""
    commits = {}
    for f in glob.glob(str(ckpt / "sources" / "0" / "*")):
        batch = os.path.basename(f)
        marker = ckpt / "commits" / batch
        if not batch.isdigit() or not marker.exists():
            continue
        done = os.path.getmtime(marker)
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    commits[os.path.basename(json.loads(line)["path"])] = done
    return commits


def trickle_section(spark, work: Path, seed: int, spans: Spans) -> tuple[dict, list[dict], Path]:
    """Open-loop trickle feed into repeated ``start_pipeline_stream``
    invocations (availableNow + checkpoint), as a scheduled incremental
    job runs them: one invocation on a first file (it compiles the
    streaming plans), then, while a feeder lands TRICKLE_FED_FILES
    files one per TRICKLE_PERIOD_S, a new invocation as soon as the
    last one ended and a landed file waits, until every file is
    committed. Freshness and backlog count the fed files; freshness is
    per page (a page takes its file's). Returns stream metrics, the
    pages fed and the output directory."""
    from microdata_rdf_streaming_parser_js_spark.streaming import stream

    root = work / "trickle"
    inbox, stage, ckpt, out = root / "in", root / "stage", root / "ckpt", root / "out"
    inbox.mkdir(parents=True)
    stage.mkdir()
    landed: dict[str, float] = {}
    fed: list[dict] = []
    stop = threading.Event()

    def land(k: int) -> None:
        pages = gen.trickle_file(seed, k)
        name = f"f{k:06d}.parquet"
        pq.write_table(pa.table({c: [p[c] for p in pages] for c in PAGE_COLS}), stage / name)
        os.rename(stage / name, inbox / name)
        landed[name] = time.time()
        fed.extend(pages)

    def feeder() -> None:
        t0 = time.perf_counter()
        for k in range(1, TRICKLE_FED_FILES + 1):
            if stop.wait(max(0.0, t0 + (k - 1) * TRICKLE_PERIOD_S - time.perf_counter())):
                return
            land(k)

    writer_s = []
    original = stream.materialize_wave

    def timed_writer(*args, **kwargs):
        t0 = time.perf_counter()
        original(*args, **kwargs)
        writer_s.append(time.perf_counter() - t0)

    walls, backlog_at_start = [], []

    def pending() -> int:
        return len(landed) - len(_stream_commits(ckpt))

    def invoke() -> None:
        backlog_at_start.append(pending())
        t0 = time.perf_counter()
        pages_stream = stream.read_pages_stream(spark, str(inbox), PAGES_DDL)
        stream.start_pipeline_stream(spark, pages_stream, str(out), str(ckpt)).awaitTermination()
        walls.append(time.perf_counter() - t0)

    stream.materialize_wave = timed_writer
    thread = threading.Thread(target=feeder, name="trickle-feeder")
    try:
        land(0)
        invoke()
        first = set(landed)
        thread.start()
        while (thread.is_alive() or pending()) and len(walls) <= 2 * TRICKLE_FED_FILES:
            if pending():
                invoke()
            else:
                time.sleep(0.05)
    finally:
        stop.set()
        if thread.is_alive():
            thread.join(timeout=30)
        stream.materialize_wave = original
    commits = _stream_commits(ckpt)
    if len(commits) != len(landed):
        raise RuntimeError(f"{len(landed) - len(commits)} trickle files never committed")
    steady = {n: t for n, t in landed.items() if n not in first}
    fresh = [commits[n] - t for n, t in steady.items() for _ in range(gen.TRICKLE_PAGES_PER_FILE)]
    events = sorted([(t, 1) for t in steady.values()] + [(commits[n], -1) for n in steady])
    backlog = peak = 0
    for _t, d in events:
        backlog += d
        peak = max(peak, backlog)
    progress = read_graph(out)["progress"]
    per_batch = {}
    for row in progress:
        per_batch[row[4]] = per_batch.get(row[4], 0) + row[1]
    spans.total["stream.writers.s"] = sum(writer_s)
    print(f"trickle: {len(steady)} fed files, one per {TRICKLE_PERIOD_S} s; invocation walls "
          f"{[round(w, 2) for w in walls]} s; backlog at each start {backlog_at_start} files",
          file=sys.stderr)
    metrics = {
        "stream.invocations": len(walls),
        "stream.commit_s_p50": statistics.median(walls[1:]),
        "stream.rows_per_commit": statistics.mean(per_batch.values()) if per_batch else 0.0,
        "stream.freshness_p50_s": statistics.median(fresh),
        "stream.freshness_pmax_s": high_percentile(fresh),
        "stream.backlog_max_files": float(peak),
        "stream.writers.bucket_skew": _bucket_skew(progress),
        **_files_stats(out, "stream.writers"),
    }
    return metrics, fed, out


def kernel_metrics(pages: list[dict]) -> dict[str, float]:
    """Single-process cost of the pure-Python kernel on a page sample."""
    from microdata_rdf_streaming_parser_js_spark.functions.charset import decode_html
    from microdata_rdf_streaming_parser_js_spark.functions.fast_html import FastHtmlTokenizer
    from microdata_rdf_streaming_parser_js_spark.operators.extract import _extract_page

    class NoSink:
        def on_tag_open(self, name, attributes):
            pass

        def on_text(self, data):
            pass

        def on_tag_close(self):
            pass

        def on_end(self):
            pass

    sample = [p for p in pages if p["html"] is not None and len(p["html"]) <= MAX_HTML_BYTES][:KERNEL_SAMPLE_PAGES]
    kb = sum(len(p["html"]) for p in sample) / 1000
    t0 = time.perf_counter()
    docs = [decode_html(p["html"]) for p in sample]
    t_decode = time.perf_counter() - t0
    t0 = time.perf_counter()
    for doc in docs:
        tok = FastHtmlTokenizer(NoSink())
        tok.feed(doc)
        tok.end()
    t_tok = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_triples = sum(len(_extract_page(p["base_iri"], p["html"], None, False)) for p in sample)
    t_extract = time.perf_counter() - t0
    return {
        "functions.tokenize_us_per_kb": 1e6 * t_tok / kb,
        "functions.extract_us_per_page": 1e6 * t_extract / len(sample),
        "functions.decode_us_per_kb": 1e6 * t_decode / kb,
        "functions.triples_per_page": n_triples / len(sample),
    }


def time_extract(spark, pages_dir: Path) -> float:
    """Wall time of extracting ``pages_dir`` on a warmed-up session."""
    from microdata_rdf_streaming_parser_js_spark.operators.extract import extract_triples

    t0 = time.perf_counter()
    extract_triples(spark.read.parquet(str(pages_dir))).count()
    return time.perf_counter() - t0


def extract_probe(pages_dir: str, n_cores: int, work: str) -> None:
    """Child process: a fresh ``local[n_cores]`` session, warmed up on
    ``pages_dir``. Prints ``ready``, waits for a line on stdin, then
    prints the :func:`time_extract` wall of ``pages_dir`` as JSON and
    shuts its session down."""
    from perfbench.run import configure_env

    configure_env(Path(work))
    sess = Session(n_cores)
    try:
        spark = sess.start()
        warm_up(spark, Path(pages_dir))
        print("ready", flush=True)
        sys.stdin.readline()
        print(json.dumps({"extract_s": time_extract(spark, Path(pages_dir))}), flush=True)
    finally:
        sess.close()


class ExtractProbe:
    """:func:`extract_probe` at ``local[1]`` in a child process. Its JVM
    launch and warm-up overlap the parent's untimed set-up; its timed
    extraction runs on :meth:`measure`, when the parent is idle."""

    def __init__(self, pages_dir: Path, work: Path):
        self.proc = start_child("extract_probe", str(pages_dir), 1, str(work),
                                stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def _line(self) -> str:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"extraction probe exited with code {self.proc.wait()}")
        return line.strip()

    def wait_ready(self) -> None:
        while self._line() != "ready":
            pass

    def measure(self) -> float:
        self.proc.stdin.write("go\n")
        self.proc.stdin.flush()
        while not (line := self._line()).startswith("{"):
            pass
        self.proc.wait(timeout=60)
        return json.loads(line)["extract_s"]

    def stop(self) -> None:
        stop_job(self.proc)


def run_traced(name: str, seed: int, work: Path, cache: Path) -> dict:
    """One JVM with Spark's event log on: an untimed warm-up pipeline
    run, the local[N] extraction probe, the untraced pipeline, the same
    plan layer by layer, the ledger read and the trickle stream. Then,
    with that JVM stopped: the local[1] extraction probe (a child
    process warmed up alongside the warm-up run), the event log,
    verification and the single-process kernel probe."""
    from pyspark.sql import functions as F

    from microdata_rdf_streaming_parser_js_spark.sources.writers import completed_buckets

    spec = WORKLOADS[name]
    kw = spec["pipeline"]
    n_buckets, waves = wave_plan(kw)
    pages = spec["pages"](seed)
    pages_dir, sample_dir = work / "pages", work / "sample"
    write_pages(pages, pages_dir, INPUT_FILES)
    sample_dir.mkdir()
    for f in sorted(pages_dir.iterdir())[:SCALE_FILES]:
        os.link(f, sample_dir / f.name)
    out, event_log = work / "traced", work / "eventlog"
    event_log.mkdir()
    tally, spans, errors = Tally(), Spans(), []
    counts, streamed, single_core_s, graph = None, None, None, {"progress": []}
    phases = [time.perf_counter()]
    sess = Session()
    job = probe = None
    try:
        probe = ExtractProbe(sample_dir, work / "probe")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir={event_log.as_uri()} "
            "--conf spark.eventLog.compress=false " + os.environ["PYSPARK_SUBMIT_ARGS"])
        spark = sess.start()
        job = start_child("_expected_digest", str(cache), name, seed, n_buckets, waves, [])
        tally.call(run_pipeline, spark, spark.read.parquet(str(pages_dir)), str(work / "warmup"), **kw)
        job.wait()
        tally.call(probe.wait_ready)
        multi_core_s = time_extract(spark, sample_dir)
        t0 = time.perf_counter()
        tally.call(run_pipeline, spark, spark.read.parquet(str(pages_dir)), str(work / "untraced"), **kw)
        untraced_s = time.perf_counter() - t0
        phases.append(time.perf_counter())
        traced_since_ms = time.time() * 1000
        df = spark.read.parquet(str(pages_dir))
        n_bytes = spans.time("pages.scan_s", lambda: df.select(F.sum(F.length("html"))).first()[0])
        t0 = time.perf_counter()
        counts = tally.call(traced_pipeline, spark, df, out, kw, spans)
        traced_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        tally.call(completed_buckets, spark, str(out))
        ledger_read_s = time.perf_counter() - t0
        streamed = tally.call(trickle_section, spark, work, seed, spans)
        sess.close()
        phases.append(time.perf_counter())
        single_core_s = tally.call(probe.measure)
        session = probes.session_metrics(str(event_log), traced_since_ms)
        if counts is not None:
            fixture_of = {p["url"]: p["fixture"] for p in pages if p["fixture"]}
            digest = _expected_digest(str(cache), name, seed, n_buckets, waves, [])
            graph = read_graph(out)
            errors += check_graph(graph, digest, fixture_of, n_buckets)[0]
        if streamed is not None:
            fed, stream_out = streamed[1], streamed[2]
            stream_buckets = defaults(start_pipeline_stream)["n_buckets"]
            expected = [(oracle.host_bucket(p["url"], stream_buckets),) + r
                        for p in fed for r in (oracle.page_triples(p) or ())]
            errors += check_graph(read_graph(stream_out), oracle.multiset_digest(expected),
                                  {p["url"]: p["fixture"] for p in fed if p["fixture"]}, None)[0]
        phases.append(time.perf_counter())
        kernel = kernel_metrics(pages)
        phases.append(time.perf_counter())
    finally:
        if job is not None:
            stop_job(job)
        if probe is not None:
            probe.stop()
        sess.close()
    if errors:
        tally.failed += 1
    for e in errors + tally.errors:
        print(f"{name} (traced): FAILED: {e}", file=sys.stderr)
    print(f"{name} (traced): pipeline walls untraced {untraced_s:.1f} s, traced {traced_s:.1f} s; "
          f"phase walls (warm-up+untraced, traced+stream, probe+verify, kernel) "
          f"{[round(b - a, 1) for a, b in zip(phases, phases[1:])]} s", file=sys.stderr)
    n_ok_pages = sum(1 for p in pages if p["html"] is not None and len(p["html"]) <= MAX_HTML_BYTES)
    extract_s = spans.total.get("extract.s", float("nan"))
    kernel_s = kernel["functions.extract_us_per_page"] * n_ok_pages / 1e6
    metrics = {
        **kernel,
        **{k: float(v) for k, v in (counts or {}).items()},
        "extract.udf_useful_frac": kernel_s / (extract_s * cores()),
        "extract.scale_eff_1to4": single_core_s / (cores() * multi_core_s) if single_core_s else None,
        **{k: spans.total.get(k) for k in
           ("extract.s", "skolemize.s", "linking.s", "canonicalize.s", "dedup.s", "writers.s",
            "pages.scan_s", "stream.writers.s")},
        **_files_stats(out, "writers"),
        "writers.bucket_skew": _bucket_skew(graph["progress"]),
        "pages.mb": (n_bytes or 0) / 1e6,
        "pipeline.waves": float(len(waves)),
        "pipeline.ledger_read_s": ledger_read_s,
        **(streamed[0] if streamed else {}),
        **session,
        "trace.overhead_frac": traced_s / untraced_s - 1,
    }
    per_layer = {k: metrics.get(k) for k in UNITS if "." in k}
    return {"correct": not errors and not tally.failed, "attempted": tally.attempted,
            "failed": tally.failed, "metrics": per_layer}


def run(name: str, seed: int, seconds: float, trace: bool, work: Path, cache: Path) -> dict:
    if trace:
        return run_traced(name, seed, work, cache)
    return run_end_to_end(name, seed, seconds, work, cache)
