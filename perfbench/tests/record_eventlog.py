"""Record the small event log that ``test_ledger.py`` parses.

    python3 perfbench/tests/record_eventlog.py

Runs three requests on a local Spark session with the event log on
(uncompressed, not rolling), the way the traced benchmark run does:

- ``1``: a tagged global count (a two-stage job);
- ``2``: a tagged group-by aggregation (a two-stage job);
- ``3``: an untagged RDD job, which the ledger must attribute by its
  request's time window.

Writes ``data/eventlog_small.jsonl`` (only the events the ledger reads,
plus one it must ignore, without the fields ``slim`` drops) and ``data/eventlog_small.windows.json`` (the
requests' wall-clock windows).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from ledger import TAG_PROP  # noqa: E402

KEEP = {
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerTaskEnd",
    "SparkListenerApplicationStart",
}


#: fields the ledger does not read that name the recording host's paths,
#: user or call sites
DROP = {"RDD Info", "Details", "Callsite", "Stage Name", "Accumulables", "User"}


def slim(ev):
    """``ev`` without ``DROP`` fields at any depth, and with job and
    stage properties cut down to the request tag."""
    if isinstance(ev, list):
        return [slim(v) for v in ev]
    if not isinstance(ev, dict):
        return ev
    out = {k: slim(v) for k, v in ev.items() if k not in DROP}
    if "Properties" in out:
        out["Properties"] = {k: v for k, v in out["Properties"].items() if k == TAG_PROP}
    return out


def main() -> None:
    from pyspark.sql import SparkSession

    work = tempfile.mkdtemp(prefix="perfbench_eventlog_")
    try:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + work)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        windows = {}

        def request(tag, fn, tagged=True):
            t0 = time.time()
            if tagged:
                sc.setLocalProperty(TAG_PROP, tag)
            fn()
            sc.setLocalProperty(TAG_PROP, None)
            windows[tag] = [t0, time.time()]
            time.sleep(0.2)

        request("1", lambda: spark.range(1000, numPartitions=2).count())
        request(
            "2",
            lambda: spark.range(1000, numPartitions=2)
            .selectExpr("id % 7 AS k").groupBy("k").count().collect(),
        )
        request("3", lambda: sc.parallelize(range(100), 2).sum(), tagged=False)
        spark.stop()
        (log,) = glob.glob(os.path.join(work, "*"))
        out = os.path.join(HERE, "data")
        os.makedirs(out, exist_ok=True)
        with open(log) as src, open(os.path.join(out, "eventlog_small.jsonl"), "w") as dst:
            for line in src:
                ev = json.loads(line)
                if ev.get("Event") in KEEP:
                    dst.write(json.dumps(slim(ev), separators=(",", ":")) + "\n")
        with open(os.path.join(out, "eventlog_small.windows.json"), "w") as f:
            json.dump(windows, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
