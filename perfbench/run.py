"""KG-pipeline benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload crawl-mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints every metric by name with its
unit, then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` makes the separate layer-by-layer
traced run and reports the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "microdata_rdf_streaming_parser_js_spark"


def _host_driver_memory() -> str:
    """An eighth of the host's memory, between 1 and 2 GiB."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(f.readline().split()[1])
    except (OSError, ValueError, IndexError):
        return "2g"
    return f"{max(1, min(2, total_kb // (8 * 1024 * 1024)))}g"


def configure_env(work: Path) -> None:
    """Environment for the Spark session, set before pyspark starts:
    workers import the program from this checkout; spill, temp files
    and the driver JVM's scratch stay under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_DRIVER_MEMORY"] = _host_driver_memory()
    os.environ["SPARK_LOCAL_DIRS_OVERRIDE"] = str(work / "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE).is_dir():
        print(f"error: {PACKAGE}/ not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    # a SIGTERM unwinds through the cleanup below (stop the JVM, delete scratch)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    configure_env(work)
    try:
        result = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work,
                               ROOT / ".bench_cache")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = workloads.UNITS
    for name, value in result["metrics"].items():
        if value is None or not math.isfinite(value):
            # a layer or check that could not run: report 0 and fail the run
            result["metrics"][name] = value = 0.0
            result["correct"] = False
        print(f"{args.workload}  {name} = {value:.6g} {units[name]}")
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
