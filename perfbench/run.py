"""The repository's benchmark of record: one workload, timed end to end.

    python3 perfbench/run.py --workload kraken_small --seed 1 --seconds 10 --trace 0

Each workload is a closed loop: one client, one operation at a time, on
`local[<nproc>]`. The harness times from outside, around the public calls
a user makes (`session.get_spark`, `registry.load_all`, the kraken
pipeline calls, a query's `fn()` and its `noop` write), checks every
output outside the timed window, and prints one JSON object as the last
line of stdout, after one `{"detail": ...}` line with the raw samples.
`--trace 0` reports the end-to-end metrics; `--trace 1` enables Spark's
event log, parses it after the session stops and reports the per-layer
metrics instead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

#: kraken workloads: (reports, species per report, write_outputs mode)
KRAKEN = {
    "kraken_large": (48, 20_000, "scale"),
    "kraken_small": (8, 2_000, "fidelity"),
}
KRAKEN_TOPK = 15
KRAKEN_TOP_COLUMNS = 11

#: query_mix: catalog scale factor and the registered queries of one pass
QUERY_SF = 0.02
QUERY_MIX = (
    "op13_floor_ratio_rrpm",
    "dedup_ngram_jaccard",
    "evt_session_window",
    "text_bpe_train",
)
WORKLOADS = (*KRAKEN, "query_mix")

#: cached input sets kept per input shape (least recently used go first)
KEEP_INPUTS = 3

#: steady ops per run at least, however long they take: the JIT still
#: compiles in the background during the second op, so a run that stopped
#: after it would report a different mix of warming and warm ops
MIN_STEADY = 2

#: the two timed layers of an op: `build` returns the result (the kraken
#: run_pipeline call, or a query's fn() with its eager jobs) and `write`
#: consumes it (write_outputs, or the query's noop write)
LAYERS = ("build", "write")


def per_layer_names() -> list[str]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    from eventlog import COUNTERS

    return [
        "session.get_spark_s", "registry.load_all_s", "op.build_s",
        "op.write_s", "caching.release_pinned_s", "jvm.peak_rss_mb",
        *[f"{layer}.{c}" for layer in LAYERS for c in COUNTERS],
        "build.scan_executor_run_s", "traced.first_op_s", "traced.op_s_p50",
    ]


def unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_s", "_s_p50")):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


# ---------------------------------------------------------------- inputs


def _input_dir(key: str, make) -> Path:
    """Build an input set once per key; later runs reuse it."""
    d = WORK / "inputs" / key
    if not (d / "meta.json").exists():
        shutil.rmtree(d, ignore_errors=True)
        meta = make(d)
        (d / "meta.json").write_text(json.dumps(meta))
        shape = key.split("-")[0]
        sets = sorted(
            (p for p in d.parent.iterdir() if p.name.split("-")[0] == shape),
            key=lambda p: p.stat().st_mtime,
        )
        for old in sets[:-KEEP_INPUTS]:
            shutil.rmtree(old, ignore_errors=True)
    os.utime(d)
    return d


def kraken_inputs(n_samples: int, n_taxa: int, seed: int) -> tuple[Path, dict]:
    from tests.kraken_fixtures import generate_reports

    def make(d: Path) -> dict:
        paths = generate_reports(d, n_samples=n_samples, n_taxa=n_taxa, seed=seed)
        species = set()
        for p in paths:
            with open(p) as fh:
                for line in fh:
                    f = line.split("\t")
                    if len(f) > 7 and f[7] == "species":
                        species.add(f[6])
        return {"samples": len(paths), "species": len(species)}

    d = _input_dir(f"kraken_{n_samples}x{n_taxa}-{seed}", make)
    return d, json.loads((d / "meta.json").read_text())


def query_inputs(seed: int) -> Path:
    from tables import write_tables

    def make(d: Path) -> dict:
        write_tables(d, QUERY_SF, seed)
        return {"sf": QUERY_SF, "seed": seed}

    return _input_dir(f"tables_sf{QUERY_SF}-{seed}", make)


# ---------------------------------------------------------------- checks


def _csv_text(path: str) -> str:
    """A sink's bytes: the file itself (fidelity) or its part files (scale)."""
    p = Path(path)
    if p.is_dir():
        return "".join(f.read_text() for f in sorted(p.glob("part-*")))
    return p.read_text()


def check_kraken(paths: tuple[str, str, str], meta: dict) -> tuple[list[str], str]:
    """Row and column counts of the three CSVs, plus their digest."""
    problems, h = [], hashlib.sha256()
    for kind, path in zip(("combined", "rrpm", "tophits"), paths):
        lines = _csv_text(path).splitlines()
        h.update("\n".join(lines).encode())
        rows, cols = len(lines) - 1, len(lines[0].split(",")) if lines else 0
        if kind == "tophits":
            ok = cols == KRAKEN_TOP_COLUMNS and 0 < rows <= KRAKEN_TOPK * meta["samples"]
        else:
            ok = rows == meta["species"] and cols == 3 + meta["samples"]
        if not ok:
            problems.append(f"{kind}: {rows} rows x {cols} columns")
    return problems, h.hexdigest()


def frame_digest(df) -> tuple[int, str]:
    """Row count and an order-insensitive digest of a result frame.
    Floating-point columns are compared to 8 significant digits, so a
    different summation order cannot flip the digest."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.format_string("%.8g", c)
        elif isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            c = F.to_json(c)
        cols.append(F.coalesce(c.cast("string"), F.lit("\0null")))
    row = (
        df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .first()
    )
    return row["n"], str(row["s"])


def code_digest() -> str:
    """Identifies the program under test, so stored output digests are only
    compared between runs of the same code."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "bigbugdata_spark").rglob("*.py")) + [
        ROOT / "tests" / "kraken_fixtures.py"
    ]:
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


class DigestBook:
    """Output digests of earlier ops and runs with the same workload,
    inputs and code."""

    def __init__(self, workload: str, inputs: str):
        self.path = WORK / "digests" / f"{workload}-{inputs}-{code_digest()}.json"
        self.known = json.loads(self.path.read_text()) if self.path.exists() else {}
        self.fresh: dict[str, object] = {}

    def check(self, key: str, value) -> bool:
        """True when `value` matches every earlier op and run for `key`."""
        expected = self.known.get(key, self.fresh.get(key, value))
        self.fresh.setdefault(key, value)
        return value == expected

    def save(self) -> None:
        if self.known:
            return
        self.path.parent.mkdir(parents=True, exist_ok=True)
        self.path.write_text(json.dumps(self.fresh, sort_keys=True))


# ---------------------------------------------------------------- ops


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it:
    the JVM and the Python workers it forks. Time a process spends waiting
    for a CPU it was ready to use does not count, so this moves far less
    than wall time with the load of other tenants on the host."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited meanwhile
            continue
        f = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(f[1]), []).append(int(name))
        ticks[int(name)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    layer: str  # build | write | release
    label: str  # "kraken" or the query's name
    start_ms: float  # epoch milliseconds, the clock of Spark's event log
    end_ms: float
    dur_s: float


@dataclass
class Op:
    wall_s: float
    ok: bool
    spans: list[Span] = field(default_factory=list)
    #: time of the timed calls inside wall_s (the rest is harness overhead)
    covered_s: float = 0.0
    #: CPU time of the process tree over wall_s (see tree_cpu_s)
    cpu_s: float = 0.0

    def layer_s(self, layer: str) -> float:
        return sum(s.dur_s for s in self.spans if s.layer == layer)


class Clock:
    def __init__(self):
        self.spans: list[Span] = []

    def __call__(self, layer: str, label: str, fn, *args, **kw):
        t0, p0 = time.time(), time.perf_counter()
        try:
            return fn(*args, **kw)
        finally:
            dur = time.perf_counter() - p0
            self.spans.append(Span(layer, label, t0 * 1000.0, time.time() * 1000.0, dur))


def kraken_op(spark, paths, meta, mode, book, out_dir) -> Op:
    """One full pipeline run: run_pipeline, write_outputs, release_pinned."""
    from bigbugdata_spark.caching import release_pinned
    from bigbugdata_spark.operators.kraken import run_pipeline, write_outputs

    clock, cpu0 = Clock(), tree_cpu_s()
    t0 = time.perf_counter()
    result = clock("build", "kraken", run_pipeline, spark, paths)
    outs = clock("write", "kraken", write_outputs, result, out_dir, "species", mode=mode)
    clock("release", "kraken", release_pinned, spark)
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s() - cpu0
    problems, digest = check_kraken(outs, meta)
    for p in problems:
        print(f"wrong output: {p}", file=sys.stderr)
    ok = not problems and book.check("outputs", digest)
    return Op(wall, ok, clock.spans, sum(s.dur_s for s in clock.spans), cpu)


def query_pass(spark, specs, sf_dir, order, book) -> Op:
    """One pass over the query list: each query's fn(), then its noop
    write. The digest and the cache release follow, outside the op."""
    from bigbugdata_spark.caching import release_pinned

    clock, wall, cpu, ok = Clock(), 0.0, 0.0, True
    for name in order:
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        df = clock("build", name, specs[name].fn, spark, sf_dir)
        clock("write", name, df.write.format("noop").mode("overwrite").save)
        wall += time.perf_counter() - t0
        cpu += tree_cpu_s() - cpu0
        n, digest = frame_digest(df)
        clock("release", name, release_pinned, spark)
        if n == 0 or not book.check(name, [n, digest]):
            print(f"wrong output: {name} ({n} rows, digest {digest})", file=sys.stderr)
            ok = False
    covered = sum(s.dur_s for s in clock.spans if s.layer != "release")
    return Op(wall, ok, clock.spans, covered, cpu)


def guarded(op, *args) -> Op:
    """Run one op; an exception counts it as failed instead of ending the run."""
    t0 = time.perf_counter()
    try:
        return op(*args)
    except Exception:
        traceback.print_exc()
        return Op(time.perf_counter() - t0, False)


def prepare(workload: str, seed: int):
    """Build the inputs (outside any timed window); return the op and the
    name of its input set."""
    if workload in KRAKEN:
        n, taxa, mode = KRAKEN[workload]
        d, meta = kraken_inputs(n, taxa, seed)
        paths = sorted(str(p) for p in d.glob("*_report.txt"))
        out_dir = str(WORK / "out" / workload)
        return (lambda spark, specs, book:
                kraken_op(spark, paths, meta, mode, book, out_dir)), d.name
    d = query_inputs(seed)
    order = list(QUERY_MIX)
    random.Random(seed).shuffle(order)
    return (lambda spark, specs, book:
            query_pass(spark, specs, str(d), order, book)), d.name


# ---------------------------------------------------------------- session


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- metrics


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(steady: list[Op], log, cores: int) -> tuple[dict, dict]:
    """Per-layer metrics of the steady ops of a traced run, each the median
    over ops, plus a per-label breakdown (per query, or "kraken"). The
    caller overwrites the metrics that are not per op (setup, RSS). A layer
    that runs several times in one op (once per query) reports its sums,
    with slot_idle_ratio recomputed from the summed times."""
    from eventlog import COUNTERS, span_counters

    summed = [c for c in COUNTERS if c != "slot_idle_ratio"]
    summed += ["job_wall_s", "scan_executor_run_s"]
    rows, labels = [], {}
    for op in steady:
        row: dict[str, float] = {}
        for s in op.spans:
            if s.layer not in LAYERS:
                continue
            c = span_counters(log, s.start_ms, s.end_ms, cores)
            for k in summed:
                row[f"{s.layer}.{k}"] = row.get(f"{s.layer}.{k}", 0.0) + c[k]
            per = labels.setdefault(s.label, {})
            per.setdefault(f"{s.layer}_s", []).append(s.dur_s)
            per.setdefault(f"{s.layer}_jobs", []).append(c["jobs"])
        for layer in LAYERS:
            wall = row.get(f"{layer}.job_wall_s", 0.0)
            run = row.get(f"{layer}.executor_run_s", 0.0)
            row[f"{layer}.slot_idle_ratio"] = 1.0 - run / (wall * cores) if wall > 0 else 0.0
        row["op.build_s"] = op.layer_s("build")
        row["op.write_s"] = op.layer_s("write")
        row["caching.release_pinned_s"] = op.layer_s("release")
        rows.append(row)
    metrics = {k: _median(r.get(k, 0.0) for r in rows) for k in per_layer_names()}
    by_label = {lb: {k: _median(v) for k, v in per.items()} for lb, per in labels.items()}
    return metrics, by_label


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    phases, mark = {}, [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - mark[0]
        mark[0] = now

    op, inputs = prepare(workload, seed)
    book = DigestBook(workload, inputs)
    phase("inputs")

    from bigbugdata_spark import registry
    from bigbugdata_spark.session import get_spark

    extra: dict[str, str] = {}
    log_dir = WORK / "eventlog"
    if trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        log_dir.mkdir(parents=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
        }
    t0 = time.perf_counter()
    spark = get_spark(extra_conf=extra)
    t1 = time.perf_counter()
    try:
        specs = registry.load_all()
        setup = {"session.get_spark_s": t1 - t0, "registry.load_all_s": time.perf_counter() - t1}
        phase("setup")
        ops = [guarded(op, spark, specs, book)]
        t0 = time.perf_counter()
        while len(ops) < 1 + MIN_STEADY or time.perf_counter() - t0 < seconds:
            ops.append(guarded(op, spark, specs, book))
        rss = jvm_peak_rss_mb(spark)
        phase("ops")
    finally:
        shutdown(spark)
    book.save()
    phase("shutdown")

    steady = ops[1:]
    failed = sum(not o.ok for o in ops)
    detail = {
        "workload": workload, "seed": seed, "trace": int(trace), "cores": cores,
        "op_s": [o.wall_s for o in ops], "op_cpu_s": [o.cpu_s for o in ops],
        "first_op_s": ops[0].wall_s, "op_s_p50": _median(o.wall_s for o in steady),
        "failed_ratio": failed / len(ops),
        "peak_rss_mb": rss,
        "call_coverage": _median(o.covered_s / o.wall_s for o in steady if o.ok),
    }
    if trace:
        from eventlog import parse

        metrics, detail["by_label"] = layer_metrics(steady, parse(log_dir), cores)
        metrics.update(setup)
        metrics["jvm.peak_rss_mb"] = rss
        metrics["traced.first_op_s"] = ops[0].wall_s
        metrics["traced.op_s_p50"] = _median(o.wall_s for o in steady)
        phase("parse")
    else:
        metrics = {
            "setup_s": sum(setup.values()),
            "first_op_cpu_s": ops[0].cpu_s,
            "op_cpu_s_p50": _median(o.cpu_s for o in steady),
        }
    detail["phase_s"] = phases
    print(json.dumps({"detail": detail}))
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }


def _isolate() -> None:
    """Keep every file the run writes, the JVM's included, inside WORK."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    sys.path[:0] = [str(HERE), str(ROOT)]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "bigbugdata_spark" / "session.py").exists():
        print(f"no bigbugdata_spark package under {ROOT}", file=sys.stderr)
        return 2
    _isolate()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
