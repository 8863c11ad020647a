"""One benchmark run of one workload, in a fresh process.

Started by ``run.py``, which pins the environment (``PYTHONPATH``,
cores, driver memory, run-local temp dirs) and cleans up after it.
Prints the result object as the last line of standard output.

Both workloads drive one mirror table with a ``city`` secondary index
through the same closed loop, one client thread. A *round* is:

1. a change backlog lands as JSONL files (generated outside the clock);
2. ``CdcPipeline.start(available_now=True)`` drains it, one file per
   micro-batch, into the ``SnapshotTable`` mirror (a catch-up);
3. ``SecondaryIndex.sync`` brings the index to the new version;
4. the read mix runs ``read_mixes`` times: a 10-key ``read_keys``, a
   ``zipcode`` range ``read_where``, a ``city`` index ``lookup``, and
   ``read().count()``.

Set-up starts the session, bootstraps the mirror with a first catch-up
of 10k events (the cold first micro-batch, which also warms the
streaming path), builds the index, and runs one warm-up round (catch-up,
sync and ``warm_mixes`` read mixes). Every round after that is measured.

The workloads differ in the properties the engine's cost depends on:

- ``stream_catchup``: copy-on-write merges, uniform keys, two 10k-event
  files per round. The micro-batch loop's per-batch fixed cost and the
  copy-on-write merge carry the load.
- ``serve_mor``: merge-on-read merges (minor compaction once 2 delta
  runs are pending, so in every measured round), Zipf-skewed keys, one
  5k-event file per round, two warm-up read mixes and four read mixes
  per round. Reads resolve pending delta runs, so work moved from
  merges onto reads shows here.

Every read is checked against the generator's state for its round, and
the final table against the generator's final state, outside the
clock. Every run measures the same ``ROUNDS`` rounds, however fast the
program is, so each median is always made of the same mix of rounds;
``--seconds`` is accepted and not used. A traced run then ends with
the operator pass of ``ops.py``.

Sources of the traffic's parameters (the rest are set by the
benchmark's specification: op mix, file sizes, bucket count):

- ``KEYSPACE``: ``streaming/bench.py``'s rule, a keyspace of a quarter
  of the stream's events, applied to the 50k-event stream that
  ``bench.py`` runs through it;
- ``gen.N_CITIES`` and the zipcode range: the record ``streaming/
  bench.py`` generates (``city-{i % 997}``, ``10_000 + i % 89_999``);
- ``gen.ZIPF_S``: the exponent-1 Zipf profile of ``tools/gen_scale.py``;
- ``ZIP_SPAN`` (1% of the zipcode range): nothing in the repository
  sets a range read's width; this is an unverified assumption.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

import gen
from layers import p50
from trace import Tracer

WORKLOADS = {
    "stream_catchup": {
        "merge_mode": "cow",
        "compact_every": None,
        "index_mode": "cow",
        "skew": "uniform",
        "file_events": 10_000,
        "files_per_round": 2,
        "read_mixes": 3,
        "warm_mixes": 1,
    },
    "serve_mor": {
        "merge_mode": "mor",
        # after the warm-up round's delta run, each measured merge adds
        # the second pending run and folds both, so both rounds write
        # and read the same state
        "compact_every": 2,
        "index_mode": "mor",
        "skew": "zipf",
        "file_events": 5_000,
        "files_per_round": 1,
        # a merge-on-read read takes ~0.5 s, and with three mixes per
        # round the index lookup's median still spread up to ~0.2 over
        # ten seeds; a fourth mix brought it near 0.13
        "read_mixes": 4,
        # merge-on-read reads keep warming for longer: after one warm-up
        # mix the first measured round's reads ran ~25% slower than the
        # second's, and a run's median fell between the two groups
        "warm_mixes": 2,
    },
}

#: ``streaming/bench.py``'s keyspace rule (n_events // 4) for the
#: 50k-event stream ``bench.py`` runs
KEYSPACE = 50_000 // 4
#: change events of the set-up catch-up that bootstraps the mirror, in
#: one file, so one micro-batch
BOOT_EVENTS = 10_000
N_BUCKETS = 32
#: measured rounds per run, fixed, so that each median is made of the
#: same rounds however fast the program is
ROUNDS = 2
POINT_KEYS = 10
#: ~1% of the zipcode range; an assumption, see the module docstring
ZIP_SPAN = 900
COLS = [f.split()[0] for f in gen.RECORD_DDL.split(", ")]
READS = ("point_read", "range_read", "index_lookup", "full_read")
END_TO_END = (
    "setup_s", "apply_events_per_s", "batch_s_p50", "write_round_s_p50",
    "point_read_s_p50", "range_read_s_p50", "index_lookup_s_p50",
)


class Run:
    """State of one workload run: session, mirror, index, generator."""

    def __init__(self, name: str, seed: int, work: str, trace: bool) -> None:
        self.name = name
        self.cfg = WORKLOADS[name]
        self.work = work
        self.tracer = Tracer(trace)
        self.log = gen.ChangeLog(seed, KEYSPACE, skew=self.cfg["skew"])
        self.read_rng = np.random.default_rng([seed, 1])
        self.src = os.path.join(work, "src")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        #: samples per metric, one per round or read
        self.samples: dict[str, list[float]] = {}
        self.progress: list[dict] = []
        self.events_applied = 0
        self.drain_s = 0.0
        self.sink_files = self.sink_bytes = self.commits = 0
        self.pending_frac: list[float] = []
        self.scan_kept = [0, 0]

    # -- setup -------------------------------------------------------------

    def setup(self) -> float:
        """Session start, bootstrap and index build; returns seconds."""
        self.log.write(self.src, BOOT_EVENTS, BOOT_EVENTS)
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            from pyspark.sql.types import StructType

            from changedatacapture_spark.session import get_spark
            from changedatacapture_spark.streaming.index import SecondaryIndex
            from changedatacapture_spark.streaming.pipeline import (
                CdcPipeline,
                file_envelope_stream,
            )
            from changedatacapture_spark.streaming.sink import SnapshotTable

            conf = {"spark.ui.showConsoleProgress": "false"}
            if self.tracer.enabled:
                self.eventlog_dir = os.path.join(self.work, "eventlog")
                os.makedirs(self.eventlog_dir)
                conf.update({
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                })
            self.spark = get_spark(app_name=f"perfbench-{self.name}", extra_conf=conf)
        self.tracer.bind(self.spark)
        self.tracer.instrument()
        self.file_stream = file_envelope_stream
        with self.tracer.span("session.warmup"):
            self.table = SnapshotTable(
                self.spark, os.path.join(self.work, "mirror"), [gen.KEY],
                n_buckets=N_BUCKETS,
            )
            self.pipe = CdcPipeline(
                self.spark, StructType.fromDDL(gen.RECORD_DDL), self.table, gen.KEY,
                merge_mode=self.cfg["merge_mode"],
                compact_every=self.cfg["compact_every"],
            )
            self.catch_up(BOOT_EVENTS)
            self.index = SecondaryIndex(
                self.spark, self.table, "city", postings_mode=self.cfg["index_mode"]
            )
            self.index.sync()
            # the first catch-up, sync and reads after the bootstrap run
            # slower than later ones (the catch-up on copy-on-write by
            # ~40%, the first read of each kind up to 2x): measured,
            # they split a run's samples into two groups and its median
            # fell between them. So set-up runs a warm-up round.
            n = self.round_events()
            self.log.write(self.src, n, self.cfg["file_events"])
            self.catch_up(n)
            self.index.sync()
            for _ in range(self.cfg["warm_mixes"]):
                self.read_mix()
            self.samples.clear()
            self.scan_kept = [0, 0]
        return time.perf_counter() - t0

    # -- one round -----------------------------------------------------------

    def _sink_files(self) -> dict[str, int]:
        out = {}
        for root, _, files in os.walk(self.table.path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.path.getsize(p)
        return out

    def _check(self, what: str, got, want) -> None:
        if got != want:
            self.failed += 1
            self.errors.append(f"{what}: got {_short(got)}, want {_short(want)}")

    def _rows(self, df) -> set:
        return {tuple(r) for r in df.select(*COLS).collect()}

    def _want(self, pred) -> set:
        return {tuple(r[c] for c in COLS) for r in self.log.state.values() if pred(r)}

    def catch_up(self, n_events: int) -> tuple[float, list[dict]]:
        """Drain the source's new files; returns the wall seconds and the
        progress reports of the micro-batches that carried rows."""
        t_drain = time.perf_counter()
        with self.tracer.span("request.catchup"):
            q = self.pipe.start(
                self.file_stream(self.spark, self.src, max_files_per_trigger=1),
                checkpoint_dir=os.path.join(self.work, "checkpoint"),
                available_now=True,
            )
            q.awaitTermination()
        drain = time.perf_counter() - t_drain
        if q.exception() is not None:
            raise RuntimeError(f"catch-up failed: {q.exception()}")
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.attempted += len(batches)
        self._check("batches", sum(p["numInputRows"] for p in batches), n_events)
        return drain, batches

    def round_events(self) -> int:
        return self.cfg["file_events"] * self.cfg["files_per_round"]

    def round(self) -> None:
        n_events = self.round_events()
        self.log.write(self.src, n_events, self.cfg["file_events"])
        before = self._sink_files() if self.tracer.enabled else None
        v0 = self.table.version
        drain, batches = self.catch_up(n_events)
        t_sync = time.perf_counter()
        with self.tracer.span("request.index_sync"):
            self.index.sync()
        sync = time.perf_counter() - t_sync
        self.attempted += 1
        self.events_applied += n_events
        self.drain_s += drain
        self.progress.extend(batches)
        self._add("write_round_s", drain + sync)
        if before is not None:
            after = self._sink_files()
            new = [p for p in after if p not in before]
            self.sink_files += len(new)
            self.sink_bytes += sum(after[p] for p in new)
            self.commits += self.table.version - v0
            base = self.table.base_bytes()
            self.pending_frac.append(self.table.pending_run_bytes() / base if base else 0.0)
        for _ in range(self.cfg["read_mixes"]):
            self.read_mix()

    def _add(self, key: str, v: float) -> None:
        self.samples.setdefault(key, []).append(v)

    def _timed(self, kind: str, fn):
        t = time.perf_counter()
        with self.tracer.span(f"request.{kind}"):
            out = fn()
        self._add(f"{kind}_s", time.perf_counter() - t)
        self.attempted += 1
        return out

    def _scan(self) -> None:
        rep = self.table.last_scan_report
        if rep and rep.get("files_total"):
            self.scan_kept[0] += rep["files_kept"]
            self.scan_kept[1] += rep["files_total"]

    def read_mix(self) -> None:
        keys = self.log.sample_keys(self.read_rng, POINT_KEYS)
        lo = int(self.read_rng.integers(gen.ZIP_LO, gen.ZIP_HI - ZIP_SPAN))
        city = gen.city(int(self.read_rng.integers(0, gen.N_CITIES)))
        t = self.table
        got = self._timed("point_read", lambda: self._rows(t.read_keys(keys)))
        self._scan()
        ks = set(keys)
        self._check("point_read", got, self._want(lambda r: r[gen.KEY] in ks))
        got = self._timed(
            "range_read",
            lambda: self._rows(t.read_where([("zipcode", "between", lo, lo + ZIP_SPAN)])),
        )
        self._scan()
        self._check(
            "range_read", got, self._want(lambda r: lo <= r["zipcode"] <= lo + ZIP_SPAN)
        )
        got = self._timed("index_lookup", lambda: self._rows(self.index.lookup(city)))
        self._check("index_lookup", got, self._want(lambda r: r["city"] == city))
        n = self._timed("full_read", lambda: t.read().count())
        self._check("full_read", n, len(self.log.state))

    # -- end of run ------------------------------------------------------------

    def final_check(self) -> None:
        """The mirror equals the generator's final state, both ways."""
        path = os.path.join(self.work, "expected.jsonl")
        self.log.write_expected(path)
        want = self.spark.read.schema(gen.RECORD_DDL).json(path)
        got = self.table.read().select(*COLS)
        self.attempted += 1
        extra, missing = got.exceptAll(want).count(), want.exceptAll(got).count()
        if extra or missing:
            self.failed += 1
            self.errors.append(f"final state: {extra} extra rows, {missing} missing rows")

    def end_to_end(self, setup_s: float | None) -> dict:
        """Every end-to-end metric that has samples; a run that failed
        early leaves the others out."""
        s = self.samples
        batch_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in self.progress]
        vals = {
            "setup_s": setup_s,
            "apply_events_per_s": (
                self.events_applied / self.drain_s if self.drain_s else None
            ),
            "batch_s_p50": p50(batch_s) if batch_s else None,
            **{f"{k}_s_p50": p50(s[f"{k}_s"]) if s.get(f"{k}_s") else None
               for k in ("write_round", *READS) if k != "full_read"},
        }
        units = {"apply_events_per_s": "1/s"}
        return {
            k: {"value": vals[k], "unit": units.get(k, "s")}
            for k in END_TO_END if vals[k] is not None
        }


def _short(x) -> str:
    r = repr(x)
    return r if len(r) < 200 else r[:200] + "..."


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    a = ap.parse_args()

    run = Run(a.workload, a.seed, a.work, bool(a.trace))
    setup_s = None
    rounds = 0
    stage = "set-up"
    m_start = m_end = time.time()
    try:
        setup_s = run.setup()
        m_start = time.time()
        while rounds < ROUNDS:
            stage = f"round {rounds + 1}"
            run.round()
            rounds += 1
        m_end = time.time()
        stage = "final check"
        run.final_check()
        if run.tracer.enabled:
            import ops

            stage = "operator pass"
            ops.run_pass(run, a.seed)
    except Exception as e:  # noqa: BLE001 - a failed operation is a result
        run.attempted += 1
        run.failed += 1
        run.errors.append(f"{stage}: {type(e).__name__}: {e}")
    e2e = run.end_to_end(setup_s)
    info = {"workload": a.workload, "seed": a.seed, "rounds": rounds,
            "batches": len(run.progress), "errors": run.errors[:5],
            "samples": run.samples}
    metrics = e2e
    spark = getattr(run, "spark", None)
    if run.tracer.enabled:
        run.tracer.restore()
    if spark is not None:
        spark.stop()
        if run.tracer.enabled and not run.failed:
            import layers

            metrics = layers.per_layer(run, e2e, m_start, m_end)
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
