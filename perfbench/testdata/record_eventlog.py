"""Re-record the small event log the parser tests read.

    python3 perfbench/testdata/record_eventlog.py

Runs three spans on a 2-core local session with the event log on:
`scan` (a CSV file scan plus an aggregation), `threaded` (two jobs
submitted from worker threads that set no job group) and `idle` (no
job). It writes the log under `eventlog_small/`, keeping only the event
kinds the parser reads and dropping their bulky fields, and the spans'
epoch-millisecond bounds to `eventlog_small_spans.json`.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
KEEP = {
    "SparkListenerLogStart", "SparkListenerJobStart", "SparkListenerJobEnd",
    "SparkListenerStageCompleted", "SparkListenerTaskEnd",
}
ROWS = 5000


def _slim(ev: dict) -> dict:
    ev.pop("Properties", None)
    ev.pop("Stage Infos", None)
    info = ev.get("Stage Info") or ev.get("Task Info")
    if info is not None:
        info.pop("Accumulables", None)
        info.pop("Details", None)
        for rdd in info.get("RDD Info", []):
            for k in ("Callsite", "Storage Level", "Scope", "Parent IDs"):
                rdd.pop(k, None)
    return ev


def main() -> None:
    from pyspark.sql import SparkSession

    work = Path(tempfile.mkdtemp())
    log_dir = work / "log"
    log_dir.mkdir()
    csv = work / "rows.csv"
    csv.write_text("k,v\n" + "".join(f"{i % 7},{i}\n" for i in range(ROWS)))
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir.as_uri())
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    spans = []

    def span(name, fn):
        t0 = time.time() * 1000
        fn()
        spans.append({"name": name, "start_ms": t0, "end_ms": time.time() * 1000})

    def scan():
        df = spark.read.option("header", True).csv(str(csv))
        df.groupBy("k").count().write.format("noop").mode("overwrite").save()

    def threaded():
        def job(n):  # one job of two tasks, no shuffle
            spark.range(0, n, numPartitions=2).write.format("noop").mode("overwrite").save()

        with ThreadPoolExecutor(max_workers=2) as ex:
            for f in [ex.submit(job, 1000), ex.submit(job, 2000)]:
                f.result()

    span("scan", scan)
    span("threaded", threaded)
    span("idle", lambda: time.sleep(0.2))
    spark.stop()

    src = next(log_dir.glob("eventlog_v2_*"))
    dst = HERE / "eventlog_small" / src.name
    shutil.rmtree(HERE / "eventlog_small", ignore_errors=True)
    dst.mkdir(parents=True)
    for events in src.glob("events_*"):
        lines = [json.loads(line) for line in events.read_text().splitlines()]
        kept = [json.dumps(_slim(e)) for e in lines if e["Event"] in KEEP]
        (dst / events.name).write_text("\n".join(kept) + "\n")
    (HERE / "eventlog_small_spans.json").write_text(
        json.dumps({"rows": ROWS, "cores": 2, "spans": spans}, indent=1) + "\n"
    )
    shutil.rmtree(work)


if __name__ == "__main__":
    sys.exit(main())
